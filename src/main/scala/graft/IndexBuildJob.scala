package graft

import graft.checkpoint.CheckpointedBuild

/** spark-submit entry point for the index build: builds the checkpointed
  * index of the `files` corpus derived from `<sfDir>/documents.parquet`
  * and prints one JSON line with the build wall time and throughput.
  *
  * Usage: IndexBuildJob <sfDir> <outDir> <parallelism>
  */
object IndexBuildJob {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, parStr) = args
    val par = parStr.toInt
    // Task granularity: with shuffle.partitions == cores and 128 MB input
    // splits, every stage at N=4 runs 4-5 coarse tasks — a 5th task is a
    // whole extra wave (3 cores idle), and reduce-side term skew lands
    // directly in the stage wall. 4 partitions per core + ~16 MB splits
    // keep the tail bounded at a quarter wave (the standard 2-4 tasks per
    // core rule).
    val spark = GraftSession.builder(s"graft-index-build-$par", par)
      .config("spark.sql.shuffle.partitions", (par * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val files = corpus.Corpus.files(spark, sfDir)
    val t0 = System.nanoTime()
    val stats = CheckpointedBuild.run(files, outDir, nBuckets = 4)
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"build_sec": $sec%.3f, "files": ${stats.nDocs}, "files_per_sec": ${stats.nDocs / sec}%.1f, "parallelism": $par}""")
    spark.stop()
  }
}
