"""Iceberg-style spatial table layout: one writer, one reader pair and
one set of compactors over a pluggable spatial key.

The scan-level spatial pushdown the reference hand-rolls (seek past
non-matching record bodies via bbox headers, ref
ppge/pyshp/__init__.py:1381-1388) becomes PHYSICAL LAYOUT here:

* the table is written partitioned by a coarse key (``part_*``, low
  resolution) — spatial predicates on keys turn into partition pruning
  the Catalyst optimizer applies for free;
* within each partition, rows are sorted by the fine-resolution key —
  neighbors cluster into the same files and parquet row groups. No
  read predicate uses the sort key, so this only clusters rows; the
  pruning is the partition pruning above.

The key (:data:`KEYS`) decides the two columns:

* ``cell`` (default): engine cell id partitions (``part_cell``),
  Morton-code sort (``morton``);
* ``geohash``: geohash-prefix partitions (``part_gh``, human-readable
  strings Hive, Trino or a plain directory listing key on directly),
  fine-geohash sort (``gh`` — a geohash IS a base32 Morton code, and
  prefixes nest, so pruning is prefix arithmetic);
* ``hilbert``: Hilbert index of the coarse cell (``part_hd``), fine
  Hilbert index sort (``hilbert`` — the ordering never jumps, and the
  index is hierarchical, so pruning is the cell layout's shift
  arithmetic).

Readers take the key from the table's ``part_*=`` partition
directories, so they never need to be told which key a table uses.

At 100 TB this is the difference between scanning the world and scanning
one state's worth of files for a regional query.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geom_udfs import cell_id_col, grid_xy_cols
from ..geo import cells as cellmod

PART_RES = 3   # 8x8 world partitions by default
SORT_RES = 12  # fine Morton clustering

_STAGING = "_compact_tmp"  # underscore prefix: invisible to Spark listing


def morton_col(lon, lat, res: int):
    """Z-order code as a column expression (bit-interleave via shifts)."""
    x, y = grid_xy_cols(lon, lat, res)

    def spread(v):
        v = v.cast("long")
        masks = [
            (16, 0x0000FFFF0000FFFF),
            (8, 0x00FF00FF00FF00FF),
            (4, 0x0F0F0F0F0F0F0F0F),
            (2, 0x3333333333333333),
            (1, 0x5555555555555555),
        ]
        for shift, mask in masks:
            v = v.bitwiseOR(F.shiftleft(v, shift)).bitwiseAND(F.lit(mask))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


# ---------------------------------------------------------------------------
# spatial keys
# ---------------------------------------------------------------------------

class SpatialKey:
    """How a spatial table keys its rows: the coarse partition column
    ``part`` and the fine in-partition sort column ``sort``, written at
    ``part_res``/``sort_res`` (resolution for grid keys, precision for
    geohash) unless the caller overrides them. A key implements
    ``_columns`` (attach both columns), ``_parent`` (query key ->
    partition value) and ``_bbox_parents``."""

    name: str
    part: str
    sort: str
    part_res: int
    sort_res: int
    # partition values that may look numeric but must stay strings
    string_partitions = False

    def with_columns(self, df: DataFrame, lon: str, lat: str,
                     part_res: int | None = None,
                     sort_res: int | None = None) -> DataFrame:
        """``df`` with the ``part`` and ``sort`` columns attached."""
        return self._columns(
            df, F.col(lon), F.col(lat),
            self.part_res if part_res is None else part_res,
            self.sort_res if sort_res is None else sort_res,
        )

    def parents(self, keys: Iterable, part_res: int | None = None) -> list:
        """Sorted partition values covering the query keys (any
        resolution at or finer than ``part_res``)."""
        res = self.part_res if part_res is None else part_res
        return sorted({self._parent(k, res) for k in keys})

    def bbox_parents(self, bbox, part_res: int | None = None) -> list:
        """Sorted partition values whose extent overlaps a lon/lat bbox."""
        res = self.part_res if part_res is None else part_res
        return sorted(self._bbox_parents(tuple(bbox), res))

    @staticmethod
    def _too_coarse(part_res: int) -> ValueError:
        return ValueError(
            "query keys must be at a resolution (geohash: precision) >= "
            "the table's partition level %d" % part_res
        )


class _GridKey(SpatialKey):
    """Keys over the engine's cell grid: a query key is an engine cell
    id, and its parent partition is the index of its ancestor grid
    cell at ``part_res``."""

    part_res = PART_RES
    sort_res = SORT_RES

    def _parent(self, cell, part_res):
        x, y, res = cellmod.decode(int(cell))
        if int(res) < part_res:
            raise self._too_coarse(part_res)
        shift = int(res) - part_res
        return self._index(int(x) >> shift, int(y) >> shift, part_res)

    def _bbox_parents(self, bbox, part_res):
        for c in cellmod.bbox_cover(bbox, part_res):
            x, y, _res = cellmod.decode(int(c))
            yield self._index(int(x), int(y), part_res)


class _CellKey(_GridKey):
    name, part, sort = "cell", "part_cell", "morton"

    def _index(self, x, y, res):
        return int(cellmod.encode(x, y, res))

    def _columns(self, df, lon, lat, part_res, sort_res):
        return df.withColumn(
            self.part, cell_id_col(lon, lat, part_res)
        ).withColumn(self.sort, morton_col(lon, lat, sort_res))


class _HilbertKey(_GridKey):
    name, part, sort = "hilbert", "part_hd", "hilbert"

    def _index(self, x, y, res):
        from ..geo.hilbert import hilbert_d_np

        return int(hilbert_d_np([x], [y], res)[0])

    def _columns(self, df, lon, lat, part_res, sort_res):
        from ..geo.hilbert import with_hilbert

        gx, gy = grid_xy_cols(lon, lat, part_res)
        out = df.withColumn("_pgx", gx).withColumn("_pgy", gy)
        out = with_hilbert(out, part_res, "_pgx", "_pgy", out=self.part)
        gx2, gy2 = grid_xy_cols(lon, lat, sort_res)
        out = out.withColumn("_sgx", gx2).withColumn("_sgy", gy2)
        out = with_hilbert(out, sort_res, "_sgx", "_sgy", out=self.sort)
        return out.drop("_pgx", "_pgy", "_sgx", "_sgy")


class _GeohashKey(SpatialKey):
    """A query key is a geohash string; prefixes nest, so its parent
    partition is its ``part_res``-character prefix."""

    name, part, sort = "geohash", "part_gh", "gh"
    part_res, sort_res = 2, 9
    # base32 geohashes can be ALL DIGITS ('00'..'99' are real cells near
    # the south-west corner of the grid): a table whose every partition
    # happens to be numeric would otherwise read part_gh back as int
    string_partitions = True

    def _columns(self, df, lon, lat, part_res, sort_res):
        from ..geo.geohash import geohash_col

        return df.withColumn(
            self.part, geohash_col(lon, lat, part_res)
        ).withColumn(self.sort, geohash_col(lon, lat, sort_res))

    def _parent(self, geohash, part_res):
        g = str(geohash)
        if len(g) < part_res:
            raise self._too_coarse(part_res)
        return g[:part_res]

    def _bbox_parents(self, bbox, part_res):
        from ..geo.geohash import geohash_bbox_cover

        return geohash_bbox_cover(bbox, part_res)


KEYS = {k.name: k for k in (_CellKey(), _GeohashKey(), _HilbertKey())}


def _table_key(path: str) -> SpatialKey:
    """The key a spatial table was written with, from its ``part_*=``
    partition directories (manifest tables keep their files there
    too)."""
    names = os.listdir(path)
    for key in KEYS.values():
        if any(n.startswith(key.part + "=") for n in names):
            return key
    raise ValueError(
        "no %s partition directories under %r"
        % ("/".join(k.part for k in KEYS.values()), path)
    )


@contextlib.contextmanager
def _conf(spark: SparkSession, name: str, value: str):
    """Set a session conf for the duration of the block, then restore
    it."""
    prev = spark.conf.get(name, None)
    spark.conf.set(name, value)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(name)
        else:
            spark.conf.set(name, prev)


def _sorted(df: DataFrame, key: SpatialKey) -> DataFrame:
    # sort by the partition column FIRST: the partitioned-write path
    # re-sorts rows by partition key when its required ordering is not
    # already satisfied, and that sort need not be stable — sorting by
    # (part, sort) satisfies the writer and keeps the sort-key order
    return df.repartition(key.part).sortWithinPartitions(key.part, key.sort)


# ---------------------------------------------------------------------------
# writer and readers
# ---------------------------------------------------------------------------

def write_spatial_table(
    df: DataFrame,
    path: str,
    lon: str = "lon",
    lat: str = "lat",
    part_res: int | None = None,
    sort_res: int | None = None,
    mode: str = "overwrite",
    key: str = "cell",
) -> None:
    """Write a points table partitioned by ``key``'s coarse column and
    sorted within each partition by its fine one. ``part_res`` and
    ``sort_res`` default to the key's levels (cell and Hilbert: 3/12,
    geohash: 2/9)."""
    k = KEYS[key]
    out = _sorted(k.with_columns(df, lon, lat, part_res, sort_res), k)
    out.write.mode(mode).partitionBy(k.part).parquet(path)


def read_cells(
    spark: SparkSession,
    path: str,
    keys: Iterable,
    part_res: int | None = None,
) -> DataFrame:
    """Read only the partitions covering the requested query keys —
    engine cell ids (cell and Hilbert tables) or geohash strings
    (geohash tables), at any resolution at or finer than the table's
    ``part_res``: spatial predicate -> partition pruning."""
    key = _table_key(path)
    return read_snapshot(spark, path).where(
        F.col(key.part).isin(key.parents(keys, part_res))
    )


def read_bbox(
    spark: SparkSession,
    path: str,
    bbox,
    part_res: int | None = None,
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Read rows intersecting a bbox: partition pruning on the coarse
    keys covering the bbox + exact bbox filter (P3) on the survivors."""
    key = _table_key(path)
    df = read_snapshot(spark, path).where(
        F.col(key.part).isin(key.bbox_parents(bbox, part_res))
    )
    return df.where(
        (F.col(lon) >= F.lit(bbox[0])) & (F.col(lon) <= F.lit(bbox[2]))
        & (F.col(lat) >= F.lit(bbox[1])) & (F.col(lat) <= F.lit(bbox[3]))
    )


# ---------------------------------------------------------------------------
# compaction
# ---------------------------------------------------------------------------

def _stage_sorted(spark: SparkSession, path: str, staged: str) -> list:
    """The step both compactors share: rewrite the table's current
    snapshot into ``staged`` as one (part, sort)-sorted file per
    partition. Dynamic partition overwrite replaces only the partitions
    present in the table, so compacting into an existing directory
    leaves its other partitions alone. Returns the staged partition
    directory names."""
    key = _table_key(path)
    df = _sorted(read_snapshot(spark, path), key)
    with _conf(spark, "spark.sql.sources.partitionOverwriteMode",
               "dynamic"):
        df.write.mode("overwrite").partitionBy(key.part).parquet(staged)
    return sorted(
        n for n in os.listdir(staged) if n.startswith(key.part + "=")
    )


def compact_spatial_table(
    spark: SparkSession,
    path: str,
    out_path: str | None = None,
) -> None:
    """Compact a spatial table in place (or to ``out_path``): streaming
    ingest (stream_to_spatial_table) lands one small file per
    micro-batch per partition, and small files erode scan throughput
    and row clustering. Rewrites each partition as one sorted file via
    dynamic partition overwrite — only partitions present in the input
    are replaced, so compaction composes with ongoing ingest of OTHER
    regions.

    In-place mode stages through ``<path>/_compact_tmp`` (underscore
    prefix: invisible to Spark's file listing) because Spark cannot
    overwrite a path it is reading from, then swaps each partition dir
    ATOMICALLY via ``renameat2(RENAME_EXCHANGE)`` — a concurrent reader
    always lists either the old files or the compacted file, never a
    missing partition and never a mix. On filesystems/kernels without
    the exchange syscall it falls back to backup-rename (old ->
    ``.__bak__`` -> new in -> drop backup): still no data-loss window on
    crash (the backup survives until the new data is in place), at the
    cost of a microsecond listing gap.

    Consistency contract: the swap is atomic at the LISTING level — a
    reader never lists a missing or half-swapped partition. A reader
    that planned its scan against the PRE-swap listing, however, can
    hit FILE_NOT_EXIST when its planned file is replaced mid-read and
    must retry (Spark's standard behavior for files updated underneath
    a scan). For all-old-or-all-new reads WITHOUT that retry — and for
    multi-partition compactions as one transactional snapshot — use
    :func:`compact_spatial_table_snapshot`, which keeps old files
    alive until :func:`expire_snapshots`. This compactor's output, by
    contrast, reads without duplicate rows through manifest-unaware
    readers (``spark.read.parquet``, Hive).
    """
    if out_path is None and read_manifest(path) is not None:
        raise ValueError(
            "table at %r uses manifest commits — use "
            "compact_spatial_table_snapshot (the per-partition dir swap "
            "would invalidate the manifest's file list)" % (path,)
        )
    staged = out_path or os.path.join(path, _STAGING)
    names = _stage_sorted(spark, path, staged)
    if out_path is not None:
        return
    for name in names:
        dst = os.path.join(path, name)
        src = os.path.join(staged, name)
        if not os.path.exists(dst):
            shutil.move(src, dst)
        elif _exchange_dirs(src, dst):
            pass  # atomic swap; src now holds the pre-compact files
        else:
            bak = dst + ".__bak__"
            shutil.rmtree(bak, ignore_errors=True)
            os.rename(dst, bak)
            os.rename(src, dst)
            shutil.rmtree(bak)
    shutil.rmtree(staged, ignore_errors=True)


def compact_spatial_table_snapshot(
    spark: SparkSession, path: str
) -> dict:
    """Compact ALL partitions as one transactional snapshot:

    1. read the current snapshot (manifest-resolved);
    2. write the compacted copy to a staging dir;
    3. move each staged file into its live partition dir under a
       snapshot-unique name (live files are never touched);
    4. publish with ONE atomic manifest replace.

    A concurrent reader resolves either the old manifest (all old
    files, still on disk) or the new one (all new files) — never a
    partition-mixed state. Returns the new manifest. Old-snapshot
    files remain until :func:`expire_snapshots`."""
    m = init_manifest(path)
    snap = int(m["snapshot"]) + 1
    staged = os.path.join(path, _STAGING)
    shutil.rmtree(staged, ignore_errors=True)
    new_files = []
    for name in _stage_sorted(spark, path, staged):
        live = os.path.join(path, name)
        os.makedirs(live, exist_ok=True)
        sdir = os.path.join(staged, name)
        for f in sorted(os.listdir(sdir)):
            if not f.endswith(".parquet"):
                continue
            newname = "snap%06d-%s" % (snap, f)
            os.rename(os.path.join(sdir, f), os.path.join(live, newname))
            new_files.append(os.path.join(name, newname))
    _commit_manifest(path, snap, new_files)
    shutil.rmtree(staged, ignore_errors=True)
    return {"snapshot": snap, "files": sorted(new_files)}


def _exchange_dirs(a: str, b: str) -> bool:
    """Atomically swap two paths with Linux ``renameat2(RENAME_EXCHANGE)``
    (no instant at which either path is absent). Returns False when the
    syscall/libc wrapper is unavailable or fails (caller falls back)."""
    import ctypes
    import ctypes.util

    try:
        libc = ctypes.CDLL(ctypes.util.find_library("c") or "libc.so.6",
                           use_errno=True)
        fn = libc.renameat2
    except (OSError, AttributeError):
        return False
    fn.argtypes = [ctypes.c_int, ctypes.c_char_p, ctypes.c_int,
                   ctypes.c_char_p, ctypes.c_uint]
    fn.restype = ctypes.c_int
    at_fdcwd = -100
    rename_exchange = 2
    ret = fn(at_fdcwd, os.fsencode(a), at_fdcwd, os.fsencode(b),
             rename_exchange)
    return ret == 0


# ---------------------------------------------------------------------------
# snapshot manifests: one-rename multi-partition commits
# ---------------------------------------------------------------------------
#
# renameat2 swaps make each PARTITION's compaction atomic, but a
# multi-partition compaction is many swaps — a concurrent reader can see
# partition A compacted and partition B not yet (consistent data, mixed
# snapshot). The manifest turns the whole table state into ONE pointer:
# `_MANIFEST` lists the exact data files of the current snapshot, new
# snapshots stage their files under fresh names (never clobbering live
# ones), and a single atomic `os.replace` of the manifest publishes the
# complete new file set. Readers resolve the manifest and read exactly
# those files (partition pruning still applies — the files keep their
# `part_*=` directories via basePath). Old files stay on disk until
# `expire_snapshots` — the Iceberg snapshot-expiry contract — so a
# reader that resolved the previous manifest keeps a complete,
# consistent view.

MANIFEST_NAME = "_MANIFEST"


def _manifest_file(path: str) -> str:
    return os.path.join(path, MANIFEST_NAME)


def read_manifest(path: str) -> dict | None:
    """Current snapshot manifest ``{"snapshot": int, "files": [rel]}``,
    or None for a manifest-less table."""
    import json

    try:
        with open(_manifest_file(path)) as f:
            return json.load(f)
    except FileNotFoundError:
        return None


def atomic_write_text(path: str, text: str) -> None:
    """Durably publish ``text`` at ``path`` with write -> fsync ->
    rename -> fsync(parent dir): readers see the old content or the
    complete new content, and the rename itself survives a crash (the
    parent-directory fsync is what makes the new name durable). The
    shared commit primitive under the layout manifest and the
    streaming-cluster pointer."""
    import tempfile

    parent = os.path.dirname(os.path.abspath(path))
    fd, tmp = tempfile.mkstemp(dir=parent, prefix="._commit")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(text)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, path)
        dfd = os.open(parent, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise


def _commit_manifest(path: str, snapshot: int, files: list[str]) -> None:
    import json

    body = json.dumps({"snapshot": snapshot, "files": sorted(files)})
    # history manifest first (time travel), THEN the current pointer —
    # a reader resolving snapshot N always finds manifest-v N complete
    atomic_write_text(
        os.path.join(path, "_manifest-v%06d.json" % snapshot), body
    )
    atomic_write_text(_manifest_file(path), body)


def list_snapshots(path: str) -> list[int]:
    """Snapshot ids with a retained history manifest, ascending."""
    import re as _re

    out = []
    for name in os.listdir(path):
        m = _re.match(r"^_manifest-v(\d+)\.json$", name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def read_manifest_at(path: str, snapshot: int) -> dict:
    """A specific snapshot's manifest (requires its history file;
    raises if it was never written or has been cleaned up)."""
    import json

    p = os.path.join(path, "_manifest-v%06d.json" % int(snapshot))
    try:
        with open(p) as f:
            return json.load(f)
    except FileNotFoundError:
        raise ValueError(
            "snapshot %d has no retained manifest at %r (available: %s)"
            % (snapshot, path, list_snapshots(path))
        )


def snapshot_diff(path: str, a: int, b: int) -> dict:
    """File-level diff between two snapshots:
    {"added": [...], "removed": [...], "unchanged_count": n} — what a
    compaction or ingest actually rewrote."""
    fa = set(read_manifest_at(path, a)["files"])
    fb = set(read_manifest_at(path, b)["files"])
    return {
        "added": sorted(fb - fa),
        "removed": sorted(fa - fb),
        "unchanged_count": len(fa & fb),
    }


def _list_data_files(path: str) -> list[str]:
    prefix = _table_key(path).part + "="
    out = []
    for name in sorted(os.listdir(path)):
        if not name.startswith(prefix):
            continue
        pdir = os.path.join(path, name)
        for f in sorted(os.listdir(pdir)):
            if f.endswith(".parquet"):
                out.append(os.path.join(name, f))
    return out


def init_manifest(path: str) -> dict:
    """Adopt an existing (plain-directory) spatial table into manifest
    commits: snapshot 0 = the files currently on disk."""
    m = read_manifest(path)
    if m is not None:
        return m
    files = _list_data_files(path)
    _commit_manifest(path, 0, files)
    return {"snapshot": 0, "files": sorted(files)}


def read_snapshot(
    spark: SparkSession, path: str, snapshot: int | None = None
) -> DataFrame:
    """Read the table's current snapshot — or, with ``snapshot=N``,
    TIME-TRAVEL to a historical one (valid until
    :func:`expire_snapshots` removes its files; the manifest history
    outlives the data so attempts past expiry fail with a clear
    missing-file error rather than silently reading the wrong data).
    Reads exactly the manifest's files (basePath keeps the ``part_*``
    partition column and its pruning); falls back to a plain directory
    read when the table has no manifest. Keys with string partitions
    read with partition-type inference off: the conf is consulted when
    the relation is resolved (DataFrame creation), so a set/restore
    window around the read is enough."""
    window = (
        _conf(spark, "spark.sql.sources.partitionColumnTypeInference"
                     ".enabled", "false")
        if _table_key(path).string_partitions
        else contextlib.nullcontext()
    )
    m = (read_manifest(path) if snapshot is None
         else read_manifest_at(path, snapshot))
    with window:
        if m is None:
            return spark.read.parquet(path)
        files = [os.path.join(path, f) for f in m["files"]]
        return spark.read.option("basePath", path).parquet(*files)


def expire_snapshots(path: str) -> int:
    """Delete data files not referenced by the CURRENT manifest (the
    previous snapshots' files kept for in-flight readers). Run once
    older readers are done — Iceberg's snapshot-expiry contract.
    Returns the number of files removed."""
    m = read_manifest(path)
    if m is None:
        raise ValueError("expire_snapshots requires a manifest table")
    keep = set(m["files"])
    removed = 0
    for rel in _list_data_files(path):
        if rel not in keep:
            os.unlink(os.path.join(path, rel))
            removed += 1
    return removed


def read_polygon(
    spark: SparkSession,
    path: str,
    rings,
    part_res: int = PART_RES,
    edges: str = "planar",
    lon: str = "lon",
    lat: str = "lat",
) -> DataFrame:
    """Read rows CONTAINED in a polygon from a cell-keyed spatial table:
    the polygon's cell cover at ``part_res`` prunes partitions (full
    cells skip the exact test entirely, boundary cells run the ray-cast
    kernel) — the read-path composition of the flagship join's
    full/boundary split with the physical layout's pruning. The
    boundary refine is Arrow, so every column passes through exact."""
    import pyarrow as pa

    from ..geo import kernels
    from ..geo.geodesic import points_in_polygon_geodesic

    df = read_snapshot(spark, path)
    cover = cellmod.polygon_cover(rings, part_res, edges=edges)
    if not cover:
        return df.where(F.lit(False))
    full_cells = [c for c, f in cover if f]
    boundary_cells = [c for c, f in cover if not f]
    full_rows = df.where(F.col("part_cell").isin(full_cells))

    pip = (points_in_polygon_geodesic if edges == "geodesic"
           else kernels.points_in_polygon)
    plain = [list(map(list, r)) for r in rings]

    def refine(batches):
        for batch in batches:
            keep = pip(batch.column(lon).to_numpy(zero_copy_only=False),
                       batch.column(lat).to_numpy(zero_copy_only=False),
                       plain)
            yield batch.filter(pa.array(keep))

    boundary = df.where(F.col("part_cell").isin(boundary_cells))
    refined = boundary.mapInArrow(refine, df.schema)
    return full_rows.unionByName(refined)
