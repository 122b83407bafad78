"""Table catalog seam — snapshot-versioned parquet directories.

The north rule asks for Iceberg tables with snapshot-checkpoint resume.
This sandbox ships no Iceberg jar (SURVEY.md §7 risk 4), so the catalog is
a seam: the same five calls (write_snapshot / read / snapshots / resume
state) against versioned parquet directories.  Swapping in Iceberg is a
config change (``format("iceberg") + writeTo(...).createOrReplace()``);
nothing upstream knows the difference.

Layout:  <root>/<table>/snap-<n>/part-*.parquet
         <root>/<table>/snap-<n>/_spec.json      (partition spec, per snapshot)
         <root>/<table>/snap-<n>/_manifest.json  (per-partition column stats)
         <root>/<table>/_latest        (text file: committed snapshot id)

Commit protocol: write to snap-N, then atomically rename _latest.tmp →
_latest.  A crashed write leaves a dangling snap dir but never a corrupt
_latest — the Iceberg-commit analogue at parquet-dir fidelity.

Reference parity: the reference's temp-file sink + reload is
``OsmRdfTransformer.store()`` (OsmRdfTransformer.java:235-245, temp .ttl →
Jena TDB load) and its dataset-per-URL cache is the ``processedDataUrl``
check (OsmRdfTransformer.java:138-151); both collapse to write_snapshot /
read / resume here — the snapshot IS the cache, keyed by commit not URL.

Iceberg-fidelity features exercised here (VERDICT r1 gap #3):

* **Hidden partitioning** — ``write_snapshot(..., partition_spec=...)``
  derives partition columns from source columns via a named transform
  (e.g. geocell of lat/lon at a coarse resolution); the derived ``_p_*``
  columns exist only in the directory layout, never in the schema a
  reader sees.  ``read(..., where=...)`` rewrites supported source-column
  predicates through the transform into partition filters BEFORE the
  columns are hidden, so the parquet source prunes directories (Spark
  shows them as PartitionFilters; unmatched directories are never listed).
* **Partition evolution** — the spec is recorded PER SNAPSHOT; rewriting
  a table with a different spec changes the layout of new snapshots only,
  and every old snapshot stays readable (and pruned) under its own spec.
* **Manifest/metadata pruning** — the writer reads per-file row counts
  and min/max stats of designated columns off the parquet footers on the
  DRIVER (no Spark job) into ``_manifest.json``; INT96 timestamps carry
  no footer stats and are never pruned.  ``read(..., stats_range=...)``
  passes only the partition directories whose stats overlap the range to
  ``spark.read`` — the file-listing analogue of Iceberg manifest pruning
  (no executor, no scan touches an excluded partition).
"""

from __future__ import annotations

import json
import math
import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


# ----------------------------------------------------------- transforms
# Iceberg-style named partition transforms: source column(s) → partition
# value.  Names are serialized into _spec.json so every snapshot knows how
# its layout was derived (the partition-evolution contract).

def _t_identity(cols: list[str]) -> Column:
    return F.col(cols[0])


def _t_truncate(width: int):
    def t(cols: list[str]) -> Column:
        return (F.col(cols[0]) - (F.col(cols[0]) % width)).cast("long")
    return t


def _t_bucket(n: int):
    def t(cols: list[str]) -> Column:
        return F.pmod(F.xxhash64(*[F.col(c) for c in cols]), F.lit(n))
    return t


def _t_geocell(res: int):
    def t(cols: list[str]) -> Column:
        from p3_osm_transformer_spark.functions.geocell import cell_id
        lat, lon = cols
        return cell_id(F.col(lon), F.col(lat), res)
    return t


def _t_s2(level: int):
    """True-S2 layout key (functions/s2cell.py) — the north star's
    's2_12'-family cell id as a hidden partition column.  Scalar Arrow
    UDF: one Python exchange at WRITE time only; readers prune on the
    directory values without ever evaluating it.  A row with a NULL
    lat or lon partitions under NULL."""
    def t(cols: list[str]) -> Column:
        from p3_osm_transformer_spark.functions.s2cell import s2_cellid
        lat, lon = cols
        return s2_cellid(F.col(lon), F.col(lat), level)
    return t


def _t_hexcell(res: int):
    """Aperture-7 hexcell layout key (functions/hexcell.py, 'hex_9'
    family).  Same write-time-only cost note as _t_s2; ids are NOT
    H3-interoperable (hexcell.py module docstring)."""
    def t(cols: list[str]) -> Column:
        from p3_osm_transformer_spark.functions.hexcell import hex_cellid
        lat, lon = cols
        return hex_cellid(F.col(lon), F.col(lat), res)
    return t


def resolve_transform(name: str):
    """'identity' | 'truncate[W]' | 'bucket[N]' | 'geocell[R]' | 's2[L]' |
    'hexcell[R]' → fn.  bbox pruning (read(..., bbox=...)) is closed-form
    for geocell only; s2/hexcell layouts prune via where_eq (exact literal
    evaluation) like bucket transforms."""
    if name == "identity":
        return _t_identity
    for prefix, fac in (("truncate", _t_truncate), ("bucket", _t_bucket),
                        ("geocell", _t_geocell), ("s2", _t_s2),
                        ("hexcell", _t_hexcell)):
        if name.startswith(prefix + "[") and name.endswith("]"):
            return fac(int(name[len(prefix) + 1:-1]))
    raise ValueError(f"unknown partition transform {name!r}")


class Catalog:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------- paths
    def _tdir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _latest_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_latest")

    def latest_snapshot(self, table: str) -> int | None:
        try:
            with open(self._latest_file(table)) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def snapshots(self, table: str) -> list[int]:
        tdir = self._tdir(table)
        if not os.path.isdir(tdir):
            return []
        return sorted(int(d[5:]) for d in os.listdir(tdir)
                      if d.startswith("snap-") and d[5:].isdigit())

    def _snapdir(self, table: str, snap: int) -> str:
        return os.path.join(self._tdir(table), f"snap-{snap}")

    def _snap_json(self, table: str, snap: int, name: str) -> dict:
        try:
            with open(os.path.join(self._snapdir(table, snap), name)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {}

    def spec_of(self, table: str, snap: int) -> dict:
        """The partition spec a snapshot was written under (may differ per
        snapshot — partition evolution)."""
        return self._snap_json(table, snap, "_spec.json")

    def manifest_of(self, table: str, snap: int) -> dict:
        return self._snap_json(table, snap, "_manifest.json")

    # ------------------------------------------------- schema evolution
    # Iceberg's schema evolution is FIELD-ID based: every column gets a
    # stable integer id at first appearance; renames and drops are
    # metadata-only edits to the table's current schema (no data rewrite),
    # and every snapshot records which (name → id) mapping its files were
    # written under.  Reads project each snapshot's physical columns to
    # the current names by id, fill columns added since the snapshot with
    # typed NULLs, and hide columns dropped since — so the logical-table
    # union (live_snapshots / full_table / resume) keeps working across
    # schema changes.  Reference twin: the Jena store's schema-less graph
    # growth (JenaTextConfig.java:142-159) — new predicates simply appear;
    # here they appear as NULL-backed columns on old snapshots.

    def _schema_file(self, table: str) -> str:
        return os.path.join(self._tdir(table), "_schema_current.json")

    def _load_schema_state(self, table: str) -> tuple[dict, int]:
        """(fields, next_id).  next_id is a persisted HIGH-WATER mark:
        dropping a field retires its id forever — deriving next_id from
        max(current ids) would re-allocate the retired id to the next new
        column and silently resurrect dropped data from old snapshots."""
        try:
            with open(self._schema_file(table)) as f:
                raw = json.load(f)
        except FileNotFoundError:
            return {}, 1
        fields = raw.get("fields", raw if "next_id" not in raw else {})
        next_id = raw.get("next_id",
                          max((int(i) for i in fields), default=0) + 1)
        return fields, next_id

    def _save_schema_state(self, table: str, fields: dict,
                           next_id: int) -> None:
        with open(self._schema_file(table), "w") as f:
            json.dump({"fields": fields, "next_id": next_id}, f)

    def current_schema(self, table: str) -> dict:
        """{field_id(str): {"name", "type"}} — the table's CURRENT schema
        (empty for tables written before schema tracking)."""
        return self._load_schema_state(table)[0]

    def schema_of(self, table: str, snap: int) -> dict:
        """{column_name: {"id", "type"}} as written in that snapshot."""
        return self._snap_json(table, snap, "_schema.json")

    def _record_schema(self, df: DataFrame, table: str, snap: int) -> None:
        current, next_id = self._load_schema_state(table)
        by_name = {d["name"]: int(i) for i, d in current.items()}
        snap_schema = {}
        for fld in df.schema.fields:
            if fld.name.startswith("_p_"):
                continue           # hidden layout columns are not schema
            if fld.name in by_name:
                fid = by_name[fld.name]
            else:
                fid = next_id      # first appearance → new stable id
                next_id += 1
            current[str(fid)] = {"name": fld.name,
                                 "type": fld.dataType.simpleString()}
            snap_schema[fld.name] = {"id": fid,
                                     "type": fld.dataType.simpleString()}
        with open(os.path.join(self._snapdir(table, snap),
                               "_schema.json"), "w") as f:
            json.dump(snap_schema, f)
        self._save_schema_state(table, current, next_id)

    def rename_column(self, table: str, old: str, new: str) -> None:
        """Metadata-only rename (Iceberg semantics): the field id keeps,
        no file is rewritten; every snapshot — past and future — now
        presents the column as ``new``."""
        current, next_id = self._load_schema_state(table)
        for d in current.values():
            if d["name"] == old:
                d["name"] = new
                self._save_schema_state(table, current, next_id)
                return
        raise KeyError(f"column {old!r} not in current schema of {table!r}")

    def drop_column(self, table: str, name: str) -> None:
        """Metadata-only drop: the column disappears from every read; the
        field id is retired FOREVER (next_id high-water mark — a later add
        of the same NAME is a NEW field and does not resurrect old data,
        Iceberg's drop/re-add rule)."""
        current, next_id = self._load_schema_state(table)
        fid = next((i for i, d in current.items() if d["name"] == name), None)
        if fid is None:
            raise KeyError(f"column {name!r} not in current schema of {table!r}")
        del current[fid]
        self._save_schema_state(table, current, next_id)

    def _project_to_current(self, df: DataFrame, table: str,
                            snap: int) -> DataFrame:
        """Project a snapshot's physical columns to the current schema:
        rename by field id, hide dropped fields, NULL-fill added ones."""
        snap_schema = self.schema_of(table, snap)
        current = self.current_schema(table)
        if not snap_schema or not current:
            return df               # legacy snapshot: physical schema as-is
        cur_by_id = {int(i): d for i, d in current.items()}
        cols, seen = [], set()
        for c in df.columns:
            ent = snap_schema.get(c)
            if ent is None:
                cols.append(F.col(c))        # untracked (defensive)
                continue
            cur = cur_by_id.get(int(ent["id"]))
            if cur is None:
                continue                      # dropped since this snapshot
            seen.add(int(ent["id"]))
            cols.append(F.col(c).alias(cur["name"]))
        for fid in sorted(cur_by_id):
            if fid not in seen:               # added since this snapshot
                d = cur_by_id[fid]
                cols.append(F.lit(None).cast(d["type"]).alias(d["name"]))
        return df.select(*cols)

    # ------------------------------------------------------------- write
    def write_snapshot(self, df: DataFrame, table: str,
                       partition_by: list[str] | None = None,
                       partition_spec: dict | None = None,
                       stats_cols: list[str] | None = None) -> int:
        """Append a new immutable snapshot and commit it as latest.

        ``partition_spec``: {name: {"transform": "<t>", "source": [cols]}}
        — hidden partitioning: a derived ``_p_<name>`` column is added from
        the source columns, the layout partitions by it, and readers never
        see it.  The spec is recorded per snapshot, so re-writing the table
        with a different spec (partition evolution) leaves old snapshots
        readable under their own layout.

        ``stats_cols``: columns whose per-partition min/max go into
        ``_manifest.json`` beside the row counts (the Iceberg manifest-stats
        analogue), merged from the written files' parquet footers on the
        driver — no Spark job.  A column whose footers record no min/max
        (Spark's default INT96 timestamps) gets no stats entry, so
        ``stats_range`` never prunes on it.
        """
        snap = (self.latest_snapshot(table) or 0) + 1
        path = self._snapdir(table, snap)
        pcols: list[str] = list(partition_by or [])
        out = df
        if partition_spec:
            for name, sp in partition_spec.items():
                fn = resolve_transform(sp["transform"])
                out = out.withColumn(f"_p_{name}", fn(list(sp["source"])))
                pcols.append(f"_p_{name}")
        writer = out.write.mode("overwrite")
        if pcols:
            writer = writer.partitionBy(*pcols)
        writer.parquet(path)
        with open(os.path.join(path, "_spec.json"), "w") as f:
            json.dump(partition_spec or {}, f)
        # Manifest from the written files' footers, not from the input
        # lineage: it describes exactly the rows in the files.
        with open(os.path.join(path, "_manifest.json"), "w") as f:
            json.dump(_footer_manifest(path, stats_cols or []), f, default=str)
        # field-id schema tracking (must precede the commit so a crash
        # between the two never leaves a committed snapshot without its
        # schema record)
        self._record_schema(df, table, snap)
        tmp = self._latest_file(table) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(snap))
        os.replace(tmp, self._latest_file(table))   # atomic commit
        return snap

    # ------------------------------------------------------------- read
    def read(self, spark: SparkSession, table: str,
             snapshot: int | None = None, *,
             where_eq: dict | None = None,
             bbox: dict | None = None,
             stats_range: dict | None = None,
             use_snapshot_schema: bool = False) -> DataFrame:
        """Read a snapshot, hiding derived partition columns.

        Schema evolution: by default the result presents the table's
        CURRENT schema (field-id renames applied, dropped fields hidden,
        added fields NULL-filled) so snapshot unions and resume keep
        working across schema changes; ``use_snapshot_schema=True``
        time-travels the SCHEMA too — physical column names exactly as
        the snapshot wrote them.

        Pruning surfaces (all expressed on SOURCE columns — the reader
        never names a ``_p_*`` column):

        * ``where_eq``  {partition_name: source_value_tuple (or list of
          tuples)} — the transform is evaluated on the literal values
          (tiny driver-local Spark job, exact for any transform incl.
          hash buckets) and becomes a partition IN-filter → Spark lists
          only matching directories (PartitionFilters in the plan).
        * ``bbox``      {partition_name: (lat0, lon0, lat1, lon1)} — for
          geocell transforms: the covering cell set is computed in closed
          form on the driver and becomes the same IN-filter.
        * ``stats_range`` {col: (lo, hi)} — driver-side manifest pruning:
          only partition directories whose recorded [min, max] overlaps
          the range are handed to ``spark.read`` at all.
        """
        snap = snapshot if snapshot is not None else self.latest_snapshot(table)
        if snap is None:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        snapdir = self._snapdir(table, snap)
        spec = self.spec_of(table, snap)

        # resolve every pruning surface to a set of partition directories on
        # the DRIVER (Iceberg's manifest→file-list mechanics): Spark never
        # even lists an excluded directory
        leaves = _partition_leaf_dirs(snapdir)
        if leaves:
            schema_probe = None
            for name, sp in spec.items():
                pcol = f"_p_{name}"
                allowed: set[str] | None = None
                if where_eq and name in where_eq:
                    vals = where_eq[name]
                    if isinstance(vals, tuple):
                        vals = [vals]
                    if schema_probe is None:
                        schema_probe = spark.read.parquet(snapdir)
                    pvals = _eval_transform_on_literals(
                        spark, sp["transform"], list(sp["source"]), vals,
                        schema_probe)
                    allowed = {str(v) for v in pvals}
                if bbox and name in bbox:
                    if not sp["transform"].startswith("geocell["):
                        raise ValueError("bbox pruning needs a geocell transform")
                    res = int(sp["transform"][len("geocell["):-1])
                    cover = {str(v) for v in geocell_bbox_cover(res, *bbox[name])}
                    allowed = cover if allowed is None else (allowed & cover)
                if allowed is not None:
                    leaves = [(rel, kv) for rel, kv in leaves
                              if kv.get(pcol) in allowed]
            if stats_range:
                manifest = self.manifest_of(table, snap)
                if manifest:
                    # prune only on a POSITIVE non-overlap: a partition with
                    # no manifest entry or no recorded stats for the column
                    # is KEPT — dropping on missing metadata silently loses
                    # rows (ADVICE r2); pruning is an optimization, never a
                    # filter
                    keep = []
                    for rel, kv in leaves:
                        entry = manifest.get(rel)
                        ok = True
                        if entry is not None:
                            for col, (lo, hi) in stats_range.items():
                                mn, mx = entry.get("stats", {}).get(
                                    col, (None, None)) or (None, None)
                                try:
                                    if (mn is not None and mx is not None
                                            and (mx < lo or mn > hi)):
                                        ok = False
                                        break
                                except TypeError:
                                    pass   # incomparable stats → keep
                        if ok:
                            keep.append((rel, kv))
                    leaves = keep
            if not leaves:
                # every partition pruned — empty frame, schema preserved
                df = spark.read.parquet(snapdir).limit(0)
            else:
                paths = [os.path.join(snapdir, rel) for rel, _ in leaves]
                df = spark.read.option("basePath", snapdir).parquet(*paths)
        else:
            df = spark.read.parquet(snapdir)
        hidden = [c for c in df.columns if c.startswith("_p_")]
        if hidden:
            df = df.drop(*hidden)
        if not use_snapshot_schema:
            df = self._project_to_current(df, table, snap)
        return df

    def exists(self, table: str) -> bool:
        return self.latest_snapshot(table) is not None

    # -------------------------------------------------- metadata queries
    def row_count(self, table: str, snapshot: int | None = None) -> int | None:
        """Row count of a snapshot from metadata, never a scan — the
        driver-side sum the ANN/kNN auto-sizing paths consume instead of a
        live count() (VERDICT r2 #4).  Reads the parquet footers when the
        snapshot has no manifest; None when the table has no snapshot."""
        snap = snapshot if snapshot is not None else self.latest_snapshot(table)
        if snap is None:
            return None
        manifest = (self.manifest_of(table, snap)
                    or _footer_manifest(self._snapdir(table, snap), []))
        return sum(int(e["rows"]) for e in manifest.values())

    def live_row_count(self, table: str) -> int | None:
        """Row count of the LOGICAL table (sum over live snapshots)."""
        live = self.live_snapshots(table)
        return sum(self.row_count(table, s) for s in live) if live else None

    # ---------------------------------------------------- lifecycle
    # The catalog is append-only: every snapshot holds only its own run's
    # new rows, and the logical table is the union of the live snapshot
    # chain.  Blind keep-N expiry would therefore LOSE DATA; the safe
    # lifecycle is Iceberg's: compact (rewrite the logical table as one
    # base snapshot), then expire the snapshots the base replaced, and
    # vacuum dangling uncommitted directories from crashed writes.

    def vacuum(self, table: str) -> list[int]:
        """Delete dangling snap dirs from crashed writes — any snap-N with
        N beyond the committed _latest (the commit protocol guarantees
        every N ≤ latest was fully written + committed).  Returns the
        removed snapshot ids."""
        import shutil
        latest = self.latest_snapshot(table) or 0
        removed = []
        for s in self.snapshots(table):
            if s > latest:
                shutil.rmtree(self._snapdir(table, s), ignore_errors=True)
                removed.append(s)
        return removed

    def compact(self, spark: SparkSession, table: str,
                partition_by: list[str] | None = None,
                partition_spec: dict | None = None,
                stats_cols: list[str] | None = None) -> int:
        """Rewrite the logical table (union of live snapshots) as ONE new
        snapshot marked as a BASE (``_base.json`` records the snapshots it
        replaces).  Readers of the logical table (live_snapshots /
        full_table / resume) switch to the base atomically via the usual
        _latest commit; the replaced snapshots stay readable for
        time-travel until expire_snapshots removes them."""
        live = self.live_snapshots(table)
        if not live:
            raise FileNotFoundError(f"table {table!r} has no committed snapshot")
        df = self.read(spark, table, live[0])
        for s in live[1:]:
            df = df.unionByName(self.read(spark, table, s))
        snap = self.write_snapshot(df, table, partition_by=partition_by,
                                   partition_spec=partition_spec,
                                   stats_cols=stats_cols)
        with open(os.path.join(self._snapdir(table, snap), "_base.json"),
                  "w") as f:
            json.dump({"replaces": live}, f)
        return snap

    def live_snapshots(self, table: str) -> list[int]:
        """The snapshot chain that constitutes the logical table: the
        newest committed base (if any) and every later committed
        snapshot."""
        latest = self.latest_snapshot(table)
        if latest is None:
            return []
        committed = [s for s in self.snapshots(table) if s <= latest]
        base = None
        for s in committed:
            if os.path.exists(os.path.join(self._snapdir(table, s),
                                           "_base.json")):
                base = s
        return [s for s in committed if base is None or s >= base]

    def expire_snapshots(self, table: str, keep_n: int = 0) -> list[int]:
        """Delete committed snapshots REPLACED by the newest compaction
        base (their rows live on in the base) — never a live snapshot.
        ``keep_n`` retains the newest N replaced snapshots for time-travel.
        Returns the removed snapshot ids."""
        import shutil
        live = set(self.live_snapshots(table))
        latest = self.latest_snapshot(table) or 0
        replaced = [s for s in self.snapshots(table)
                    if s <= latest and s not in live]
        expire = replaced[:len(replaced) - keep_n] if keep_n else replaced
        for s in expire:
            shutil.rmtree(self._snapdir(table, s), ignore_errors=True)
        return expire


def _partition_leaf_dirs(snapdir: str) -> list[tuple[str, dict[str, str]]]:
    """All leaf partition directories under a snapshot as
    (relative_path, {col: value_string}); [] for unpartitioned layouts."""
    out: list[tuple[str, dict[str, str]]] = []

    def walk(d: str, rel: str, kv: dict[str, str]) -> None:
        subs = [s for s in os.listdir(d)
                if "=" in s and os.path.isdir(os.path.join(d, s))]
        if not subs:
            if kv:
                out.append((rel, kv))
            return
        for s in subs:
            c, v = s.split("=", 1)
            walk(os.path.join(d, s), os.path.join(rel, s) if rel else s,
                 {**kv, c: v})

    walk(snapdir, "", {})
    return out


def _footer_manifest(snapdir: str, stats_cols: list[str]) -> dict:
    """{leaf_dir: {"rows", "file_rows", "stats"}} from the parquet footers
    of a snapshot's files — one driver-side pass, no Spark job.  Keys are
    the leaf directories ``_partition_leaf_dirs`` finds at read time ("" for
    an unpartitioned write); ``file_rows`` lists each file's row count."""
    import pyarrow.parquet as pq
    manifest = {}
    for rel in sorted(rel for rel, _ in _partition_leaf_dirs(snapdir)) or [""]:
        d = os.path.join(snapdir, rel)
        metas = [pq.read_metadata(os.path.join(d, f))
                 for f in sorted(os.listdir(d))
                 if f.endswith(".parquet") and not f.startswith(("_", "."))]
        stats = {c: _footer_min_max(metas, c) for c in stats_cols}
        manifest[rel] = {"rows": sum(m.num_rows for m in metas),
                         "file_rows": [m.num_rows for m in metas],
                         "stats": {c: b for c, b in stats.items() if b}}
    return manifest


def _nan_last(v):
    """Sort key putting NaN above every number, as Spark's min/max do."""
    return (isinstance(v, float) and math.isnan(v), v)


def _footer_min_max(metas: list, col: str) -> list | None:
    """[min, max] of ``col`` merged over every row group of every footer
    ([None, None] when all null); None when a column chunk holds values
    but records no min/max, or the files lack the column — unknown, so
    stats pruning keeps the partition."""
    lo = hi = None
    for md in metas:
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            st = next((rg.column(j).statistics for j in range(rg.num_columns)
                       if rg.column(j).path_in_schema == col), None)
            if st is None or (not st.has_min_max and st.num_values):
                return None
            if st.has_min_max:
                lo = st.min if lo is None else min(lo, st.min, key=_nan_last)
                hi = st.max if hi is None else max(hi, st.max, key=_nan_last)
    return [lo, hi]


def _eval_transform_on_literals(spark: SparkSession, tname: str,
                                source: list[str], values: list[tuple],
                                schema_df: DataFrame) -> list:
    """Evaluate a partition transform on literal source values — exact for
    any transform (incl. xxhash64 buckets) because the same Catalyst
    expression computes it.  One driver-local job over len(values) rows."""
    fn = resolve_transform(tname)
    src_types = {f.name: f.dataType.simpleString() for f in schema_df.schema.fields}
    ddl = ", ".join(f"`{c}` {src_types.get(c, 'double')}" for c in source)
    lit_df = spark.createDataFrame(values, ddl)
    return [r[0] for r in lit_df.select(fn(source)).collect()]


def geocell_bbox_cover(g: int, lat0: float, lon0: float,
                       lat1: float, lon1: float) -> list[int]:
    """Closed-form covering cell set of a bbox at resolution g — the same
    IEEE double math as functions/geocell.cell_xy, evaluated on the driver."""
    n = 2 ** g

    def cx(lon: float) -> int:
        return min(max(int(math.floor((lon + 180.0) / 360.0 * float(n))), 0), n - 1)

    def cy(lat: float) -> int:
        return min(max(int(math.floor((lat + 90.0) / 180.0 * float(n))), 0), n - 1)

    x0, x1 = cx(min(lon0, lon1)), cx(max(lon0, lon1))
    y0, y1 = cy(min(lat0, lat1)), cy(max(lat0, lat1))
    return [y * n + x for y in range(y0, y1 + 1) for x in range(x0, x1 + 1)]
