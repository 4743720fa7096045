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

from dataclasses import dataclass

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

    def path(self, zone: str, key: str = "") -> str:
        if zone not in ZONE_ORDER:
            raise ValueError(f"unknown zone {zone!r}; have {ZONE_ORDER}")
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
    ) -> str:
        """Write a DataFrame into the next zone; returns the target path.

        Zones store Parquet internally; CSV only at the lake edges
        (ingest from landing, egress to serving consumers).
        """
        target = self.path(to_zone, key)
        writer = df.write.mode("overwrite")
        if fmt == "parquet":
            writer.parquet(target)
        elif fmt == "csv":
            writer.options(header="true").csv(target)
        else:
            raise ValueError(f"unsupported zone format {fmt!r}")
        return target


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
