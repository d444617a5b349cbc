package perfbench

import scala.collection.mutable

import graft.io.TableIO
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The tableio layer as the benchmark sees it: every call into the wrapped
  * [[TableIO]] runs in a span, and writes count the bytes and data files
  * they leave behind. `layerOf` charges a write to another layer by table
  * name — a [[graft.io.CheckpointStore]] stage materializes its whole DAG
  * inside the write, so the staged candidate and verify stages are charged
  * to their own layers, not to tableio. */
final class TracedIO(spark: SparkSession, root: String, tracer: Tracer,
    counters: Counters, layerOf: String => String = _ => "tableio")
    extends TableIO {

  private val inner = TableIO.resolve(spark, root)

  /** The last frame written to each table, by bare table name. */
  val written: mutable.Map[String, DataFrame] = mutable.Map[String, DataFrame]()

  /** Where the parquet backend keeps `name` (same rule as ParquetTableIO). */
  private def pathOf(name: String): String =
    if (name.contains("/")) name else s"$root/$name.parquet"

  private def base(name: String): String =
    name.split('/').filter(_.nonEmpty).lastOption.getOrElse(name)

  private def writing(kind: String, name: String, df: DataFrame)(
      body: => Unit): Unit = {
    written(base(name)) = df
    val layer = layerOf(base(name))
    tracer.span(s"$layer.$kind.${base(name)}", layer)(body)
    val (bytes, files) = TracedIO.du(spark, pathOf(name))
    counters.add("tableio.bytes_written", bytes.toDouble)
    counters.add("tableio.files_written", files.toDouble)
  }

  private def reading[T](name: String)(body: => T): T =
    tracer.span(s"tableio.read.${base(name)}", "tableio")(body)

  override def read(name: String): DataFrame = reading(name)(inner.read(name))
  override def write(df: DataFrame, name: String): Unit =
    writing("write", name, df)(inner.write(df, name))
  override def append(df: DataFrame, name: String): Unit =
    writing("append", name, df)(inner.append(df, name))
  override def upsert(df: DataFrame, name: String, keyCols: Seq[String]): Unit =
    writing("upsert", name, df)(inner.upsert(df, name, keyCols))
  override def writeBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int): Unit =
    writing("write", name, df)(inner.writeBucketed(df, name, keyCol, numBuckets))
  override def upsertBucketed(df: DataFrame, name: String, keyCol: String,
      numBuckets: Int, keyCols: Seq[String]): Unit =
    writing("upsert", name, df)(
      inner.upsertBucketed(df, name, keyCol, numBuckets, keyCols))
  override def readBucketed(name: String, keyCol: String,
      numBuckets: Int): DataFrame =
    reading(name)(inner.readBucketed(name, keyCol, numBuckets))
  override def exists(name: String): Boolean = inner.exists(name)
}

object TracedIO {
  /** (bytes, data files) under a directory. */
  def du(spark: SparkSession, dir: String): (Long, Long) = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return (0L, 0L)
    val it = fs.listFiles(p, true)
    var bytes = 0L
    var files = 0L
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        bytes += f.getLen; files += 1
      }
    }
    (bytes, files)
  }
}
