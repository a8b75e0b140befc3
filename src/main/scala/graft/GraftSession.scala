package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession tuning for the engine's mains and its test suites.
  *
  * The local-filesystem settings matter for measured scaling on a single
  * box: Hadoop's checksummed LocalFileSystem shells out (fork+exec `chmod`)
  * and writes a shadow .crc per file — kernel-serialized costs that don't
  * shrink with cores (thread dumps during the index build showed
  * forkAndExec / mmap / file-open as the top runnable frames at 32 threads).
  * On a real cluster these writes go to an object store / HDFS and the knobs
  * are harmless.
  */
object GraftSession {
  def builder(app: String, parallelism: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      // File-scan splits. Split granularity aligned with the index's 4 MB chunk payload
      // (InvertedIndex.ChunkTargetBytes): a 3-term BM25 query reads ~tens of
      // MB of term-pruned chunk rows, and at the 128 MB default that whole
      // decode+partial-agg ran as 1-2 tasks (measured 1.6 s, near-serial, at
      // the 480k-file bench corpus; ~0.5 s once split). Scale-adaptive by
      // construction: split count follows the bytes a query actually scans,
      // so big batch scans still get big-task amortization while point
      // queries fan out. The index-build session overrides the split size
      // explicitly (16 MB, IndexBuildJob) — build scans are throughput-, not
      // latency-bound.
      //
      // Open cost at 1/32 of the split, Spark's own default ratio (4 MB to
      // 128 MB): at Spark's 4 MB default, every file cost a whole split, so a
      // scan ran one task per file however small — a 1.7 MB index written as
      // 32 files, the serving corpus and the query log (one file per logged
      // query) each paid a task per file. Spark packs files into
      // splits of at least total/cores bytes (counting the open cost), so
      // small inputs now scan in about one wave while an input of more than
      // cores × 4 MB keeps its 4 MB splits.
      .config("spark.sql.files.maxPartitionBytes", (4L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (128L << 10).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // skip the checksum FS layer: no .crc shadow files, no chmod forks
      .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
      // commit by direct task-output rename (one rename per task, no job-level
      // rename cascade) and skip _SUCCESS markers
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      // stream local blocks instead of mmap/munmap (mmap_sem serializes)
      .config("spark.storage.memoryMapThreshold", "512m")
      // with few shuffle partitions the bypass-merge writer opens one file
      // per partition per map task and concatenates them via mmap'd
      // transferTo — the munmap storm serializes every executor thread on
      // the process-wide mmap lock (observed as the dominant runnable frame
      // at 32 threads). Force the single-pass sort-based writer + plain
      // streaming copies instead.
      .config("spark.shuffle.sort.bypassMergeThreshold", "8")
      .config("spark.file.transferTo", "false")
}
