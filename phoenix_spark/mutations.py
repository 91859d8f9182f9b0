"""Mutations over change-log tables (SURVEY.md §2.9).

Phoenix buffers mutations client-side in MutationState (reference:
phoenix-core-client/.../execute/MutationState.java:153) and commits them as
HBase batch RPCs; UPSERT VALUES / UPSERT SELECT / ON DUPLICATE KEY compile in
UpsertCompiler.java, DELETE in DeleteCompiler.java.  HBase gives latest-wins
per (rowkey, timestamp) natively.

The Spark-native analogue is an append-only **change log**: every commit
writes one immutable parquet segment stamped with a monotonically increasing
``_mutation_ts``; deletes append tombstones (``_deleted = true``).  The table
read is the latest-wins compaction::

    row_number() OVER (PARTITION BY pk ORDER BY _mutation_ts DESC) = 1
    ... AND NOT _deleted

Scale design (100 TB):
  * segments are immutable + append-only — writers never rewrite data, and a
    single atomic rename publishes a commit (object-store friendly);
  * the compaction window shuffles on the PK — exactly once, and only while
    un-compacted segments exist: ``compact()`` folds history into one base
    segment, after which reads take the single-segment fast path (plain scan,
    zero shuffle);
  * snapshot reads (time travel) prune whole segments by the commit ts in
    the filename — no data read from newer segments.

Single-writer batch semantics (no concurrent-commit arbitration) — the same
scope Phoenix documents for its non-transactional tables (SURVEY §7 hard
parts #3/#4).
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from phoenix_spark.sqllex import split_top

_TS_COL = "_mutation_ts"
_DEL_COL = "_deleted"
_SEG_RE = re.compile(r"seg-(\d{12})-")


class ManagedTable:
    """One change-log table under ``<warehouse>/<name>/``."""

    def __init__(self, spark: SparkSession, warehouse: str, name: str):
        self.spark = spark
        self.name = name
        # dotted names (schema.table, grammar :516-518) nest as directories
        self.dir = os.path.join(warehouse, *name.split("."))
        self.meta_path = os.path.join(self.dir, "meta.json")
        self.seg_dir = os.path.join(self.dir, "segments")

    # -- DDL ---------------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        warehouse: str,
        name: str,
        schema: T.StructType,
        pk: list[str],
        sort_orders: dict[str, str] | None = None,
        props: dict | None = None,
        if_not_exists: bool = False,
        defaults: dict | None = None,
        not_null: list | None = None,
    ) -> "ManagedTable":
        tbl = cls(spark, warehouse, name)
        if os.path.exists(tbl.meta_path):
            if if_not_exists:
                return tbl
            raise ValueError(f"table {name} already exists")
        assert pk, "Phoenix tables require a PRIMARY KEY constraint"
        for c in pk:
            assert c in schema.fieldNames(), f"PK column {c} not in schema"
        os.makedirs(tbl.seg_dir, exist_ok=True)
        meta = {
            "name": name,
            "schema": schema.jsonValue(),
            "pk": list(pk),
            "sort_orders": sort_orders or {},
            "props": props or {},  # SALT_BUCKETS et al: parsed-and-recorded;
            # hash partitioning is Spark-native (SaltingUtil analogue is a no-op)
            # column DEFAULTs as TRANSLATED Spark SQL expression text — the
            # read path coalesces absent cells to these
            # (DefaultValueExpression analogue)
            "defaults": defaults or {},
            # NOT NULL columns (None for pre-existing metadata → callers
            # fall back to treating every PK column as required)
            "not_null": not_null,
        }
        with open(tbl.meta_path, "w") as f:
            json.dump(meta, f, indent=1)
        return tbl

    def drop(self) -> None:
        import shutil

        shutil.rmtree(self.dir, ignore_errors=True)

    def truncate(self) -> None:
        import shutil

        shutil.rmtree(self.seg_dir, ignore_errors=True)
        os.makedirs(self.seg_dir, exist_ok=True)

    # -- metadata ----------------------------------------------------------

    @property
    def meta(self) -> dict:
        with open(self.meta_path) as f:
            return json.load(f)

    @property
    def schema(self) -> T.StructType:
        return T.StructType.fromJson(self.meta["schema"])

    @property
    def pk(self) -> list[str]:
        return list(self.meta["pk"])

    def exists(self) -> bool:
        return os.path.exists(self.meta_path)

    def _segments(self) -> list[str]:
        if not os.path.isdir(self.seg_dir):
            return []
        return sorted(
            os.path.join(self.seg_dir, p)
            for p in os.listdir(self.seg_dir)
            if p.startswith("seg-") and p.endswith(".parquet")
        )

    def _next_ts(self) -> int:
        best = 0
        for p in self._segments():
            m = _SEG_RE.search(os.path.basename(p))
            if m:
                best = max(best, int(m.group(1)))
        return best + 1

    # -- write path --------------------------------------------------------

    def _append_segment(self, df: DataFrame, ts: int, deleted: bool = False) -> int:
        from pyspark.sql import types as _T

        # Phoenix stores the empty string as NULL — an empty byte array IS
        # the VARCHAR/CHAR null representation (PVarchar;
        # NullIT.testEmptyStringValue) — canonicalize at write time so every
        # path (VALUES, SELECT, dup-update expressions) agrees.  A NULL (or
        # empty-string, which IS null) value in a NOT NULL PK column is
        # rejected (PTableImpl.newKey: ConstraintViolation "may not be null"
        # only when !column.isNullable(), PTableImpl.java:1254-1257) —
        # NULLABLE PK components legally hold null
        # (SkipScanQueryIT.testSkipScanFilterQuery upserts '' into a middle
        # nullable PK column).
        nn = self.meta.get("not_null")
        required = set(self.pk if nn is None else nn) & set(self.pk)
        cols = []
        for f in self.schema.fields:
            c = F.col(f.name).cast(f.dataType)
            if isinstance(f.dataType, _T.StringType):
                if f.name in required:
                    c = F.when(
                        c.isNull() | (c == ""),
                        F.raise_error(
                            F.lit(
                                f"{self.name}.{f.name} may not be null"
                            )
                        ).cast(f.dataType),
                    ).otherwise(c)
                else:
                    c = F.nullif(c, F.lit(""))
            cols.append(c.alias(f.name))
        out = df.select(*cols).withColumns(
            {_TS_COL: F.lit(ts).cast("long"), _DEL_COL: F.lit(deleted)}
        )
        # Segment layout mirrors the reference's row-key order (SURVEY §1.1):
        #   * WRITE_SORT (secondary indexes): range-partition + sort by the
        #     index key — globally disjoint sorted files, the covered-probe
        #     layout.  repartitionByRange SAMPLES its input (an extra pass),
        #     which is fine for index builds/maintenance scans.
        #   * default (base tables): sortWithinPartitions by the PK — each
        #     task writes a locally-sorted run (the LSM shape), so parquet
        #     row-group min/max stats prune PK range/point scans WITHOUT an
        #     extra shuffle or the sampling re-read of the source that
        #     range partitioning would cost on every UPSERT (it would also
        #     double-fire observe() metrics — the single-pass count).
        sort_cols = self.meta.get("props", {}).get("WRITE_SORT")
        if sort_cols:
            out = out.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
        else:
            out = out.sortWithinPartitions(*self.pk)
        path = os.path.join(self.seg_dir, f"seg-{ts:012d}-{uuid.uuid4().hex[:8]}.parquet")
        out.write.mode("errorifexists").parquet(path)
        return ts

    def upsert_df(self, df: DataFrame, on_duplicate: str | dict | None = None) -> int:
        """UPSERT SELECT / VALUES: insert-or-overwrite by PK.

        Contract: one COMMIT must not contain two rows with the same PK —
        rows in a segment share a mutation_ts, so the read-side latest-wins
        window cannot order them.  The VALUES path dedupes last-write-wins
        before reaching here (upsert_rows / Engine); an UPSERT SELECT whose
        SOURCE yields duplicate PKs is the caller's responsibility, matching
        the reference, where the winner is the unspecified scan order of the
        server-side upsert.

        ``on_duplicate``:
          * None      — plain upsert (latest wins at read time; no read needed)
          * 'ignore'  — ON DUPLICATE KEY IGNORE: only rows whose PK is absent
                        are appended (left-anti join against the current state)
          * {col: expr} — ON DUPLICATE KEY UPDATE: expressions evaluated over
                        the EXISTING row's columns for matched PKs; unmatched
                        rows insert as given.  Values are SQL strings or
                        Columns — e.g. bson.bson_update_expression for the
                        reference's atomic BSON document updates
                        (UpsertCompiler + PhoenixIndexBuilder ON DUPLICATE
                        KEY UPDATE b = BSON_UPDATE_EXPRESSION(b, '...'))
          * ddl.UpdateOnly({col: expr}) — ON DUPLICATE KEY UPDATE_ONLY
                        (grammar :899,911): matched PKs update as above;
                        unmatched rows are DROPPED, never inserted
                        (IndexRegionObserver.java:2305-2311)
        """
        ts = self._next_ts()
        if on_duplicate is None:
            return self._append_segment(df, ts)
        current = self.read()
        if on_duplicate == "ignore":
            # count of rows actually INSERTED (existing PKs are ignored and
            # report 0 — OnDuplicateKey2IT.testIgnoreReturnValue:112 pins
            # executeUpdate returning 0 for a fully-ignored upsert),
            # observed on the write action itself
            from pyspark.sql import Observation

            obs = Observation()
            fresh = df.join(current.select(self.pk), on=self.pk, how="left_anti")
            self._append_segment(
                fresh.observe(obs, F.count(F.lit(1)).alias("n")), ts
            )
            return int(obs.get["n"])
        assert isinstance(on_duplicate, dict)
        matched = current.join(df.select(self.pk), on=self.pk, how="left_semi")
        updated = matched.withColumns(
            {
                col: expr if isinstance(expr, F.Column) else F.expr(expr)
                for col, expr in on_duplicate.items()
            }
        )
        from phoenix_spark.ddl import UpdateOnly

        if isinstance(on_duplicate, UpdateOnly):
            # UPDATE_ONLY: unmatched incoming rows vanish — no insert.
            # Return the count of rows ACTUALLY written (observed on the
            # write action itself, not a separate scan) so executeUpdate
            # counts exclude dropped absent-PK rows (r7 advice fix; the
            # reference's IndexRegionObserver returns no mutation for an
            # absent PK, so the client counts 0 for it).
            from pyspark.sql import Observation

            obs = Observation()
            self._append_segment(
                updated.observe(obs, F.count(F.lit(1)).alias("n")), ts
            )
            return int(obs.get["n"])
        fresh = df.join(current.select(self.pk), on=self.pk, how="left_anti")
        return self._append_segment(updated.unionByName(fresh), ts)

    def upsert_rows(self, rows: list[dict], on_duplicate: str | dict | None = None) -> int:
        """UPSERT VALUES: literal rows (partial columns allowed → NULL fill).

        Duplicate PKs within one batch resolve LAST-WRITE-WINS before the
        commit (MutationState buffers mutations by PK, so a later VALUES row
        silently replaces an earlier one in the same statement) — without
        this, both rows would land in one segment with equal mutation_ts and
        the read-side latest-wins window would break the tie arbitrarily."""
        full = [{f.name: r.get(f.name) for f in self.schema.fields} for r in rows]
        by_pk = {tuple(r[c] for c in self.pk): r for r in full}
        df = self.spark.createDataFrame(list(by_pk.values()), schema=self.schema)
        return self.upsert_df(df, on_duplicate=on_duplicate)

    def delete_where(
        self,
        condition: str | F.Column | None,
        order_by: str | None = None,
        limit: int | None = None,
    ) -> int:
        """DELETE FROM t WHERE ... [ORDER BY ... LIMIT n]: append tombstones
        for matching PKs; returns the DELETED-row count (observed on the
        tombstone write itself).

        Mirrors DeleteCompiler's "run a query for the row keys, emit delete
        mutations" shape — the scan is distributed, only tombstone PK rows
        are written.  The ordered LIMIT form is DeleteCompiler's top-N
        delete (TopNIT.testTopNDelete): sort, cut, tombstone.
        """
        from pyspark.sql import Observation

        ts = self._next_ts()
        cur = self.read()
        victims = cur.filter(condition) if condition is not None else cur
        if order_by:
            import re as _re

            sort_cols = []
            for item in split_top(order_by, ","):
                m = _re.match(
                    r"(.*?)\s*(ASC|DESC)?\s*(?:NULLS\s+(FIRST|LAST))?\s*$",
                    item.strip(), _re.I | _re.S,
                )
                col = F.expr(m.group(1))
                desc = (m.group(2) or "").upper() == "DESC"
                # Phoenix default: NULLS FIRST in both directions
                nulls_last = (m.group(3) or "").upper() == "LAST"
                if desc:
                    col = (
                        col.desc_nulls_last() if nulls_last
                        else col.desc_nulls_first()
                    )
                else:
                    col = (
                        col.asc_nulls_last() if nulls_last
                        else col.asc_nulls_first()
                    )
                sort_cols.append(col)
            victims = victims.orderBy(*sort_cols)
        if limit is not None:
            victims = victims.limit(limit)
        obs = Observation()
        self._append_segment(
            victims.observe(obs, F.count(F.lit(1)).alias("n")),
            ts,
            deleted=True,
        )
        return int(obs.get["n"])

    def compact(self) -> None:
        """Fold all segments into one base segment (retention/TTL hook).

        The base segment keeps the change-log columns so the read fast path
        stays uniform; the write lands in a temp dir and is published by a
        single atomic rename before the superseded segments are removed.
        """
        ts = self._next_ts()
        snap = self.read().withColumns(
            {_TS_COL: F.lit(ts).cast("long"), _DEL_COL: F.lit(False)}
        )
        # Compaction is where the GLOBAL sort pays off: one range shuffle
        # rewrites the whole history as disjoint sorted files (the sampling
        # pass is amortized over the full rewrite), so the single-segment
        # fast path afterwards serves PK scans with maximal row-group
        # pruning.
        sort_cols = self.meta.get("props", {}).get("WRITE_SORT") or self.pk
        snap = snap.repartitionByRange(*sort_cols).sortWithinPartitions(*sort_cols)
        tmp = os.path.join(self.dir, f"_compact-{uuid.uuid4().hex[:8]}.parquet")
        snap.write.mode("errorifexists").parquet(tmp)
        import shutil

        old = self._segments()
        final = os.path.join(self.seg_dir, f"seg-{ts:012d}-{uuid.uuid4().hex[:8]}.parquet")
        shutil.move(tmp, final)
        for p in old:
            shutil.rmtree(p, ignore_errors=True)

    # -- read path ---------------------------------------------------------

    def read(
        self, as_of: int | None = None, with_row_timestamp: bool = False
    ) -> DataFrame:
        """Latest-wins compacted view (optionally AS OF a mutation ts — the
        TableSnapshotResultIterator analogue).  ``with_row_timestamp``
        exposes the commit ts as ``phoenix_row_timestamp`` (the
        PhoenixRowTimestampFunction analogue)."""
        segs = self._segments()
        if as_of is not None:
            segs = [
                p
                for p in segs
                if int(_SEG_RE.search(os.path.basename(p)).group(1)) <= as_of
            ]
        if not segs:
            return self.spark.createDataFrame([], schema=self.schema)
        df = self.spark.read.option("mergeSchema", "true").parquet(*segs)
        # Schema evolution (ALTER TABLE ADD COLUMN is metadata-only): columns
        # missing from old segments read as NULL; dropped columns are simply
        # not projected.
        data_cols = []
        dfl = self.meta.get("defaults", {})
        for f in self.schema.fields:
            if f.name not in df.columns:
                df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            if f.name in dfl:
                # DefaultValueExpression: an absent (or explicitly nulled)
                # cell reads as the declared default
                df = df.withColumn(
                    f.name,
                    F.coalesce(
                        F.col(f.name), F.expr(dfl[f.name]).cast(f.dataType)
                    ),
                )
            data_cols.append(f.name)
        if with_row_timestamp:
            data_cols.append("phoenix_row_timestamp")
            df = df.withColumn("phoenix_row_timestamp", F.col(_TS_COL))
        if len(segs) == 1:
            # Fast path: a single segment holds no superseded versions; only
            # tombstones (rare in a fresh segment) need filtering.
            return df.filter(~F.col(_DEL_COL)).select(*data_cols)
        w = Window.partitionBy(*self.pk).orderBy(F.col(_TS_COL).desc())
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & ~F.col(_DEL_COL))
            .select(*data_cols)
        )

    # -- CDC surface (SURVEY §2.11) ---------------------------------------

    def changes(self, since: int = 0, scope: str = "CHANGE") -> DataFrame:
        """CDC change feed over the change log (CREATE CDC analogue;
        reference CDCGlobalIndexRegionScanner.java:99, change scopes
        PRE/POST/CHANGE per grammar PhoenixSQL.g:611-616).

        Returns one row per mutation with pre/post images computed via
        lag() over the PK history — the batch twin of the readStream source.
        """
        segs = self._segments()
        if not segs:
            raise ValueError("no changes")
        df = self.spark.read.parquet(*segs).filter(F.col(_TS_COL) > since)
        data_cols = self.schema.fieldNames()
        w = Window.partitionBy(*self.pk).orderBy(F.col(_TS_COL).asc())
        img = F.struct(*[F.col(c) for c in data_cols])
        out = df.select(
            *self.pk,
            F.col(_TS_COL).alias("change_ts"),
            F.when(F.col(_DEL_COL), F.lit("DELETE")).otherwise(F.lit("UPSERT")).alias(
                "change_op"
            ),
            F.lag(img).over(w).alias("pre_image"),
            F.when(~F.col(_DEL_COL), img).alias("post_image"),
        )
        if scope == "PRE":
            return out.select(*self.pk, "change_ts", "change_op", "pre_image")
        if scope == "POST":
            return out.select(*self.pk, "change_ts", "change_op", "post_image")
        return out
