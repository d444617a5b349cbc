package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Table-format abstraction (SURVEY.md section 7 step 1): the engine's
 * contract is an Iceberg table of image+caption pairs (BASELINE.json
 * input_hint), but the sandbox classpath carries no Iceberg jars — so every
 * reader/writer goes through this trait, with a parquet-directory
 * implementation providing the same read/write/upsert semantics the Iceberg
 * implementation gets from `MERGE INTO` and snapshots.
 *
 * Reference analogue of `upsert`: the incremental index insert that adds only
 * ids not already indexed (reference: ea/sim/main/methods/index/faiss.py:40-51).
 */
trait TableIO {

  /** Read a table by name. */
  def read(name: String): DataFrame

  /** Replace a table's contents. */
  def write(df: DataFrame, name: String): Unit

  /** Append rows. */
  def append(df: DataFrame, name: String): Unit

  /**
   * MERGE-style upsert: rows whose `keyCols` match an existing row replace
   * it; all others insert. Idempotent: upserting the same frame twice leaves
   * the table unchanged.
   */
  def upsert(df: DataFrame, name: String, keyCols: Seq[String]): Unit

  /**
   * Write `df` physically CLUSTERED BY `keyCol` into `numBuckets` buckets —
   * the storage layout that makes every later equi-join / aggregation on
   * `keyCol` scan this table WITHOUT an Exchange (Spark plans the bucketed
   * scan as already hash-partitioned on the key and shuffles only the other
   * side). This is the 100 TB device for state tables that are written once
   * and joined every run: the daily incremental dedup re-shuffles the small
   * new batch, never the corpus.
   */
  def writeBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int): Unit

  /**
   * [[upsert]] with the bucketed layout preserved. `keyCols` is the MERGE
   * identity (which rows get replaced); `keyCol` stays the physical bucket
   * column.
   */
  def upsertBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int, keyCols: Seq[String]): Unit

  /**
   * Read a [[writeBucketed]] table WITH its bucket layout visible to the
   * planner. `keyCol`/`numBuckets` must match the write — they re-register
   * the layout in catalogs that do not persist it across sessions (the
   * parquet fallback); Iceberg carries the partition transform in table
   * metadata and ignores them.
   */
  def readBucketed(name: String, keyCol: String, numBuckets: Int): DataFrame

  def exists(name: String): Boolean
}

object TableIO {
  /**
   * Pick the backend for a location: a catalog namespace (`cat.db`) on a
   * session whose extensions include Iceberg's gets the SQL `MERGE INTO`
   * implementation; anything path-like falls back to parquet directories.
   */
  def resolve(spark: SparkSession, location: String): TableIO = {
    val ext = spark.conf.get("spark.sql.extensions", "")
    if (!location.contains("/") && ext.contains("IcebergSparkSessionExtensions"))
      new IcebergTableIO(spark, location)
    else new ParquetTableIO(spark, location)
  }

  /**
   * Read a LOCATION directly — a full catalog table identifier (no `/`, on a
   * session with Iceberg extensions) via `spark.table`, anything path-like as
   * a parquet directory. Use this for a CLI `--input` that names the table
   * itself; [[resolve]] + [[TableIO.read]] is for a *root* under which named
   * tables live (passing the root as its own table name doubles the FQN on
   * the Iceberg side).
   */
  def readLocation(spark: SparkSession, location: String): DataFrame = {
    val ext = spark.conf.get("spark.sql.extensions", "")
    if (!location.contains("/") && ext.contains("IcebergSparkSessionExtensions"))
      spark.table(location)
    else spark.read.parquet(location)
  }
}

/**
 * Parquet-directory backend: table `name` lives at `$root/$name.parquet`
 * (the TESTDATA.md layout). A name containing `/` is treated as a direct
 * path. Upsert is implemented as anti-join + union with a write-then-swap so
 * a crash mid-upsert never leaves a half-written table (the parquet analogue
 * of Iceberg's atomic snapshot commit).
 */
final class ParquetTableIO(spark: SparkSession, root: String) extends TableIO {

  private def path(name: String): String =
    if (name.contains("/")) name else s"$root/$name.parquet"

  private def fs(p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def read(name: String): DataFrame = spark.read.parquet(path(name))

  override def write(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path(name))

  override def append(df: DataFrame, name: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path(name))

  override def upsert(df: DataFrame, name: String, keyCols: Seq[String]): Unit = {
    if (!exists(name)) { write(df, name); return }
    // write-then-swap: never overwrite in place while readers may exist
    val tmp = new org.apache.hadoop.fs.Path(path(name) + "__tmp")
    val dst = new org.apache.hadoop.fs.Path(path(name))
    mergedWith(df, name, keyCols).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val f = fs(dst)
    f.delete(dst, true)
    if (!f.rename(tmp, dst))
      throw new java.io.IOException(s"upsert swap failed for ${path(name)}")
  }

  /** The table `name` with every row whose key `df` carries replaced by
    * `df`'s rows (MERGE's WHEN MATCHED THEN UPDATE collapses to
    * replace-by-key), in the table's column order — the anti-join moves its
    * key columns first, so the kept rows are re-projected. */
  private def mergedWith(df: DataFrame, name: String, keyCols: Seq[String]): DataFrame = {
    val existing = read(name)
    val cols = existing.columns.map(col)
    existing.join(df.select(keyCols.map(col): _*).distinct(), keyCols, "left_anti")
      .select(cols: _*).unionByName(df.select(cols: _*))
  }

  override def exists(name: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path(name))
    fs(p).exists(p)
  }

  /** Session-catalog identifier for the bucketed registration of `name` —
    * derived from the full path so two roots never collide. */
  private def bucketTableName(name: String): String =
    ("graft_bkt_" + path(name)).toLowerCase.replaceAll("\\W+", "_")

  /**
   * Bucketed write via `bucketBy().sortBy().saveAsTable` on an EXTERNAL
   * table at `path(name)` — Spark encodes the bucket id in each file name,
   * which is what lets [[readBucketed]] re-register the layout in a later
   * session. Crash-safe like [[upsert]]: the frame materializes into a
   * `__tmp` directory first (so a `df` that lazily reads the current table
   * is safe), then swaps in. The pre-write `repartition(numBuckets, key)`
   * keeps the file count at one per bucket instead of tasks x buckets.
   */
  override def writeBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int): Unit = {
    require(numBuckets > 0, s"numBuckets($numBuckets) must be positive")
    val tmpTable = bucketTableName(name) + "__tmp"
    val tmpPath = path(name) + "__tmp"
    val tp = new org.apache.hadoop.fs.Path(tmpPath)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable")
    fs(tp).delete(tp, true)
    df.repartition(numBuckets, col(keyCol))
      .write.bucketBy(numBuckets, keyCol).sortBy(keyCol)
      .option("path", tmpPath)
      .saveAsTable(tmpTable)
    spark.sql(s"DROP TABLE IF EXISTS $tmpTable") // external: files survive
    spark.sql(s"DROP TABLE IF EXISTS ${bucketTableName(name)}")
    val dst = new org.apache.hadoop.fs.Path(path(name))
    val f = fs(dst)
    f.delete(dst, true)
    if (!f.rename(tp, dst))
      throw new java.io.IOException(s"bucketed write swap failed for ${path(name)}")
  }

  override def upsertBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int, keyCols: Seq[String]): Unit = {
    if (!exists(name)) { writeBucketed(df, name, keyCol, numBuckets); return }
    // the merge reads a plain scan and rewrites every bucket: the full
    // rewrite is the parquet-directory price of keeping the layout; the
    // Iceberg backend's MERGE INTO rewrites only the touched files
    writeBucketed(mergedWith(df, name, keyCols), name, keyCol, numBuckets)
  }

  /**
   * Re-register the bucket spec over the existing files (`CREATE TABLE ...
   * CLUSTERED BY ... LOCATION`) and read through the catalog table — a fresh
   * session's in-memory catalog does not remember [[writeBucketed]]'s
   * registration, and a bare `spark.read.parquet` would plan the scan as
   * unpartitioned. Always drop-and-recreate: re-registration is idempotent
   * and a stale spec (changed numBuckets) would silently mis-bucket joins.
   */
  override def readBucketed(name: String, keyCol: String,
      numBuckets: Int): DataFrame = {
    val t = bucketTableName(name)
    val schema = spark.read.parquet(path(name)).schema
    spark.sql(s"DROP TABLE IF EXISTS $t")
    spark.sql(s"CREATE TABLE $t (${schema.toDDL}) USING parquet " +
      s"CLUSTERED BY ($keyCol) SORTED BY ($keyCol) INTO $numBuckets BUCKETS " +
      s"LOCATION '${path(name)}'")
    spark.table(t)
  }
}

/**
 * Iceberg backend (requires Iceberg runtime jars + catalog config on the
 * session; not loadable in this sandbox — covered by the parquet fallback's
 * shared contract tests). Upsert maps 1:1 onto `MERGE INTO`.
 */
final class IcebergTableIO(spark: SparkSession, namespace: String) extends TableIO {

  private def fqn(name: String) = s"$namespace.$name"

  override def read(name: String): DataFrame = spark.table(fqn(name))

  override def write(df: DataFrame, name: String): Unit =
    df.writeTo(fqn(name)).createOrReplace()

  override def append(df: DataFrame, name: String): Unit =
    df.writeTo(fqn(name)).append()

  override def upsert(df: DataFrame, name: String, keyCols: Seq[String]): Unit = {
    if (!exists(name)) { write(df, name); return }
    val view = s"__upsert_src_${name.replaceAll("\\W", "_")}"
    df.createOrReplaceTempView(view)
    val on = keyCols.map(k => s"t.$k = s.$k").mkString(" AND ")
    spark.sql(
      s"""MERGE INTO ${fqn(name)} t USING $view s ON $on
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.catalog.dropTempView(view)
  }

  override def exists(name: String): Boolean = spark.catalog.tableExists(fqn(name))

  /** Iceberg's native layout device: the `bucket(n, col)` partition
    * transform. The spec travels in the table's own metadata, so
    * [[readBucketed]] is a plain table read — turn on storage-partitioned
    * joins (`spark.sql.sources.v2.bucketing.enabled` +
    * `spark.sql.iceberg.planning.preserve-data-grouping`) and the scan
    * arrives pre-partitioned on the key exactly like the parquet fallback's
    * bucketed scan. */
  override def writeBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int): Unit =
    df.writeTo(fqn(name))
      .partitionedBy(bucket(lit(numBuckets), col(keyCol)))
      .createOrReplace()

  /** MERGE INTO rewrites only the touched partitions and preserves the
    * bucket transform — no full-table rewrite, unlike the parquet fallback. */
  override def upsertBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int, keyCols: Seq[String]): Unit =
    upsert(df, name, keyCols)

  override def readBucketed(name: String, keyCol: String,
      numBuckets: Int): DataFrame = read(name)
}
