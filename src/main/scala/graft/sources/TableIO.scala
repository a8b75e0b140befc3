package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Thin table-I/O seam between the engine and the table format (SURVEY.md
  * §7.1 step 1). The north rule names Iceberg tables; this sandbox has no
  * Iceberg jar, so the bundled implementation is Parquet directories with
  * the same contract surface: overwrite-publish, conflict-free append, and
  * snapshot listing. Swapping in Iceberg is implementing this trait with
  * catalog calls (`spark.read.table` / `writeTo(...).append()` /
  * `.snapshots` metadata table) and passing it to the build — a config
  * change for every caller, no engine edits.
  */
trait TableIO {
  /** Read the table's current snapshot; with a `schema`, the table is read
    * as that schema instead of one inferred from its files (an existing
    * table with no committed files then reads as empty). */
  def read(spark: SparkSession, table: String,
           schema: Option[StructType] = None): DataFrame

  /** Atomically replace the table's content (write-audit-publish).
    * `options` are format-layer hints (e.g. parquet row-group size for the
    * index table — Iceberg analog: table write properties). */
  def overwrite(df: DataFrame, table: String,
                options: Map[String, String] = Map.empty): Unit

  /** Conflict-free append of one batch (Iceberg: fast-append snapshot). */
  def append(df: DataFrame, table: String): Unit

  /** Committed snapshot identifiers, oldest first (Iceberg: the snapshots
    * metadata table; Parquet: committed part-files as the unit of commit). */
  def listSnapshots(spark: SparkSession, table: String): Seq[String]

  def exists(table: String): Boolean
}

/** Parquet-directory implementation: a "table" is a directory path; commits
  * are Hadoop-committer-atomic part-file sets. */
object ParquetTableIO extends TableIO {
  def read(spark: SparkSession, table: String,
           schema: Option[StructType] = None): DataFrame =
    schema.fold(spark.read)(spark.read.schema).parquet(table)

  def overwrite(df: DataFrame, table: String,
                options: Map[String, String] = Map.empty): Unit =
    df.write.options(options).mode("overwrite").parquet(table)

  def append(df: DataFrame, table: String): Unit =
    df.write.mode("append").parquet(table)

  def listSnapshots(spark: SparkSession, table: String): Seq[String] = {
    val dir = java.nio.file.Paths.get(table)
    if (!java.nio.file.Files.isDirectory(dir)) return Seq.empty
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") || n.startsWith("part-"))
      .toSeq.sorted
  }

  def exists(table: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(table))
}
