package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Thin table-I/O seam between the engine and the table format (SURVEY.md
  * §7.1 step 1). The north rule names Iceberg tables; this sandbox has no
  * Iceberg jar, so the bundled implementation is Parquet directories with
  * the same contract surface: read, overwrite-publish and conflict-free
  * append. Swapping in Iceberg is implementing this trait with catalog
  * calls (`spark.read.table` / `writeTo(...).append()`) and passing it to
  * the build — a config change for every caller, no engine edits.
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
}
