"""Zone-based data movement (reference operators S3/S5/S10-S12, SURVEY.md §2.1).

The reference moves objects between MinIO buckets
landing → processing → curated → serving with copy/delete operators
(reference dags/s3-etl-wallet-csv.py:24-27,161-176,196-201). Here a zone is
just a path prefix (local dir, s3a://, hdfs:// — anything Hadoop FS speaks);
promotion = reading from one zone and writing to the next, optionally
removing consumed inputs. The S3A connector replaces the MinIO SDK; no
byte-copy operator exists because a distributed write IS the copy.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

ZONE_ORDER = ["landing", "processing", "curated", "serving"]


def s3a_conf(
    endpoint: str,
    access_key: str,
    secret_key: str,
    path_style: bool = True,
    ssl: bool = False,
) -> dict[str, str]:
    """The S3A connector settings for an object-store-backed ZoneStore
    (the Spark-side spelling of the reference's hand-carried MinIO conf,
    reference spark/jobs/pr-wallet-data-tf.py:7-16). Pass to
    ``get_spark(extra_conf=s3a_conf(...))`` at session build, or to
    ``configure_s3a`` to attach to a live session."""
    return {
        "spark.hadoop.fs.s3a.endpoint": endpoint,
        "spark.hadoop.fs.s3a.access.key": access_key,
        "spark.hadoop.fs.s3a.secret.key": secret_key,
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
        "spark.hadoop.fs.s3a.connection.ssl.enabled": str(ssl).lower(),
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
    }


def configure_s3a(spark: SparkSession, conf: dict[str, str]) -> None:
    """Attach S3A settings to a LIVE session's Hadoop configuration.

    ``getOrCreate`` silently ignores ``spark.hadoop.*`` entries once a
    session exists, so mid-session credential attachment must write the
    Hadoop configuration directly (the ``spark.hadoop.`` prefix is
    stripped — that prefix is only the launch-time conf namespace)."""
    hconf = spark._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k.removeprefix("spark.hadoop."), v)


@dataclass
class ZoneStore:
    """A lakehouse root with the reference's four zones under it."""

    spark: SparkSession
    root: str
    zones: list[str] = field(default_factory=lambda: list(ZONE_ORDER))

    def path(self, zone: str, key: str = "") -> str:
        if zone not in self.zones:
            raise ValueError(f"unknown zone {zone!r}; have {self.zones}")
        return f"{self.root}/{zone}/{key}".rstrip("/")

    # -- listing / cleanup (reference S9, S11/S12) --------------------------
    def _fs(self):
        jvm = self.spark._jvm
        jsc = self.spark._jsc
        return jvm.org.apache.hadoop.fs.FileSystem.get(jsc.hadoopConfiguration()), jvm

    def list_keys(self, zone: str, prefix: str = "") -> list[str]:
        """List object keys under a zone prefix (reference S3ListOperator,
        dags/s3-etl-wallet-csv.py:152-158). Driver-side metadata op."""
        fs, jvm = self._fs()
        p = jvm.org.apache.hadoop.fs.Path(self.path(zone, prefix))
        if not fs.exists(p):
            return []
        it = fs.listFiles(p, True)
        keys = []
        base = self.path(zone) + "/"
        while it.hasNext():
            keys.append(it.next().getPath().toString().split(base, 1)[-1])
        return sorted(keys)

    def delete(self, zone: str, key: str) -> bool:
        """Remove a consumed object (reference S3DeleteObjectsOperator,
        dags/s3-etl-wallet-csv.py:171-176,196-201)."""
        fs, jvm = self._fs()
        return bool(fs.delete(jvm.org.apache.hadoop.fs.Path(self.path(zone, key)), True))

    # -- promotion ----------------------------------------------------------
    def promote(
        self,
        df: DataFrame,
        to_zone: str,
        key: str,
        fmt: str = "parquet",
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        """Write a DataFrame into the next zone; returns the target path.

        Zones store Parquet internally; CSV only at the lake edges
        (ingest from landing, egress to serving consumers).
        """
        target = self.path(to_zone, key)
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if fmt == "parquet":
            writer.parquet(target)
        elif fmt == "csv":
            writer.options(header="true").csv(target)
        else:
            raise ValueError(f"unsupported zone format {fmt!r}")
        return target

    # -- catalog tables (lakehouse table layer) -----------------------------
    # The reference ships delta-core_2.12-0.7.0.jar in both images as latent
    # capability (reference Dockerfile:14, spark/Dockerfile:12) but never
    # uses it; delta-spark is not installable in this sandbox either. The
    # zone-table layer therefore uses Spark's session catalog over the zone
    # parquet: named tables, append/overwrite lifecycle, catalog-driven
    # reads (`spark.table`) — the Delta API surface minus the transaction
    # log. On a delta-enabled cluster, swap `USING PARQUET` for
    # `USING DELTA` and drop the REFRESH (Delta self-invalidates).
    def promote_table(
        self,
        df: DataFrame,
        to_zone: str,
        key: str,
        table: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> str:
        """Write into a zone AND register/refresh the session-catalog table
        over it. ``overwrite`` rebinds the table (write first, THEN drop +
        recreate — a failed write leaves the previous registration intact
        and readers unbroken); ``append`` adds files under the table's
        existing location and refreshes the catalog's file listing.
        Appending through a store whose path differs from the table's
        registered location is refused — the files would land outside the
        table and silently vanish from every catalog read."""
        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        target = self.path(to_zone, key)
        if mode == "append":
            registered = self._table_location(table)
            if registered is not None and registered != _norm_loc(target):
                raise ValueError(
                    f"append target {target!r} does not match table {table!r}'s "
                    f"registered location {registered!r}; appended files would be "
                    "invisible to catalog readers (use the store/key the table "
                    "was created with, or overwrite to rebind)"
                )
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        if mode == "overwrite":
            self.spark.sql(f"DROP TABLE IF EXISTS {table}")
        self.spark.sql(f"CREATE TABLE IF NOT EXISTS {table} USING PARQUET LOCATION '{target}'")
        # Spark caches a table's file listing; appended files are invisible
        # until refresh (Delta's transaction log makes this automatic).
        self.spark.sql(f"REFRESH TABLE {table}")
        return target

    def _table_location(self, table: str) -> str | None:
        """Registered storage location of a catalog table, normalized;
        None if the table doesn't exist."""
        if not self.spark.catalog.tableExists(table):
            return None
        rows = self.spark.sql(f"DESCRIBE FORMATTED {table}").collect()
        for r in rows:
            if r["col_name"] == "Location":
                return _norm_loc(r["data_type"])
        return None

    def table(self, table: str) -> DataFrame:
        """Catalog-driven read — consumers address the TABLE, not the path."""
        return self.spark.table(table)


def _norm_loc(path: str) -> str:
    """Normalize a storage location for equality (strip scheme prefix for
    local files and any trailing slash)."""
    return path.removeprefix("file:").rstrip("/")


def compact_zone(
    store: ZoneStore,
    zone: str,
    key: str,
    target_file_mb: int = 128,
) -> tuple[str, int, int]:
    """Small-file compaction (the OPTIMIZE half of a table format): rewrite
    a zone parquet dataset into ~``target_file_mb`` files. Streaming sinks
    and per-batch appends leave thousands of tiny files; at 100 TB the
    scan's task-per-file overhead and the NameNode/S3 LIST cost dominate
    long before bytes do. Returns (path, files_before, files_after).

    Sizing uses the on-disk byte sum (cheap driver-side listing), not row
    counts — compressed bytes are what file targets mean. The swap is a
    three-step rename dance: the LIVE dataset is first renamed ASIDE
    (``path__compact_old``), the staging rewrite renamed into place, and
    only then the old copy deleted. A failure at any step leaves a full
    recoverable copy (old at the aside path, or new at the staging path —
    the raised error names which); the no-data window is one rename pair,
    not a delete-then-rename. Still NOT atomic (a reader listing between
    the two renames can miss the dataset, and on object stores rename is
    a copy) — run compaction in the maintenance window, or use a
    transactional table format where true atomic swap matters.
    """
    path = store.path(zone, key)
    fs, jvm = store._fs()
    hpath = jvm.org.apache.hadoop.fs.Path
    p = hpath(path)
    files = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        if f.getPath().getName().endswith(".parquet"):
            files.append((f.getPath().toString(), f.getLen()))
    n_before = len(files)
    total_bytes = sum(sz for _, sz in files)
    n_target = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)))
    df = store.spark.read.parquet(path)
    staging = path + "__compact_staging"
    df.repartition(n_target).write.mode("overwrite").parquet(staging)
    old = path + "__compact_old"
    fs.delete(hpath(old), True)  # leftover from a crashed prior run
    if not fs.rename(p, hpath(old)):
        raise IOError(
            f"compaction swap failed: rename({path!r} -> {old!r}) returned "
            f"false; live data untouched, compacted copy at {staging!r}"
        )
    if not fs.rename(hpath(staging), p):
        raise IOError(
            f"compaction swap failed: rename({staging!r} -> {path!r}) returned "
            f"false; previous data intact at {old!r}, compacted copy at {staging!r}"
        )
    fs.delete(hpath(old), True)
    return path, n_before, n_target


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
) -> DataFrame:
    """Change-data snapshot diff: (change, key...) rows classifying every
    key as inserted / deleted / updated between two snapshots — the CDC
    primitive for incremental downstream loads when the source has no
    changelog. One full outer join on the key; 'updated' compares a
    whole-row fingerprint (md5 of concat_ws over non-key columns, null
    marker ␀) so schema-wide changes are caught without listing columns.
    """
    from pyspark.sql import functions as F

    val_cols = [c for c in old.columns if c not in key_cols]

    def fp(df: DataFrame) -> Column:
        return F.md5(
            F.concat_ws("\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in val_cols])
        )

    o = old.select(*key_cols, fp(old).alias("_fp_old"))
    n = new.select(*key_cols, fp(new).alias("_fp_new"))
    j = o.join(n, key_cols, "full_outer")
    change = (
        F.when(F.col("_fp_old").isNull(), F.lit("inserted"))
        .when(F.col("_fp_new").isNull(), F.lit("deleted"))
        .when(F.col("_fp_old") != F.col("_fp_new"), F.lit("updated"))
    )
    return j.select(change.alias("change"), *key_cols).filter(F.col("change").isNotNull())
