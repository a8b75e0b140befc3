package graft.checkpoint

import graft.SparkSpec
import graft.analyze.Analyzer
import graft.corpus.Corpus
import graft.search.CompressedSearchEngine
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

class CheckpointedBuildSpec extends SparkSpec {

  private lazy val files = Corpus.files(spark, "/root/testdata/sf0.001").cache()

  private lazy val idRange = {
    val r = files.agg(min("doc_id"), max("doc_id")).head()
    (r.getLong(0), r.getLong(1))
  }

  private def decodedOf(eng: CompressedSearchEngine) =
    eng.decoded(None).orderBy("term", "doc_id").collect().toSeq

  private def mtime(path: String) =
    Files.getLastModifiedTime(java.nio.file.Paths.get(path))

  /** `docs` with a wrong sha on doc `id`: the build's own sha256 invariant
    * fails the bucket that holds it. */
  private def withBadSha(docs: DataFrame, id: Long): DataFrame =
    docs.withColumn("sha",
      when(col("doc_id") === id, lit("0" * 64)).otherwise(col("sha")))

  /** A build of `files` into `dir` in `n` buckets whose bucket `b` has one
    * bad row: it throws the sha256 invariant of bucket `b`, and leaves a
    * complete manifest for every other bucket and none for `b`. */
  private def failBucket(dir: String, b: Int, n: Int): Unit = {
    val (lo, hi) = idRange
    val width = math.max(1L, (hi - lo + n) / n)
    val e = intercept[IllegalArgumentException](
      CheckpointedBuild.run(withBadSha(files, lo + b * width), dir, nBuckets = n))
    assert(e.getMessage.contains(s"sha256 invariant violated in bucket $b"))
    val ms = CheckpointedBuild.readManifests(dir)
    assert(ms.filter(_.status == "complete").map(_.partition_id) ===
      (0 until n).filter(_ != b), s"manifests after bucket $b failed")
  }

  test("fresh build publishes manifests, metrics and a queryable index") {
    val out = tmpDir("graft-ckpt-fresh")
    val stats = CheckpointedBuild.run(files, out, nBuckets = 4)
    assert(stats.nDocs === files.count())
    val ms = CheckpointedBuild.readManifests(out)
    assert(ms.length === 4)
    assert(ms.forall(_.status === "complete"))
    assert(ms.map(_.rows).sum === stats.nDocs)
    assert(ms.forall(m => m.sha_ok === m.rows)) // sha256 invariant per row
    // one posting per distinct (doc, term) of the analyzer, counted in memory
    assert(ms.map(_.postings).sum === files.select("content").collect()
      .map(r => Analyzer.simpleTokens(r.getString(0)).distinct.size.toLong).sum)
    // the index is written in at most the files its payload bytes ask for
    // (range bounds come from a row sample: a small index can fill fewer)
    val indexFiles = new java.io.File(s"$out/index").list().count(_.endsWith(".parquet"))
    assert(indexFiles > spark.sparkContext.defaultParallelism)
    assert(indexFiles <= graft.index.InvertedIndex.writeParts(spark, ms.map(_.bytes).sum))
    // ... and an engine session scans those small files in one wave of tasks
    assert(spark.read.parquet(s"$out/index").rdd.getNumPartitions <=
      spark.sparkContext.defaultParallelism)
    val eng = CheckpointedBuild.load(spark, out)
    val hits = eng.searchTopK(Seq("merge", "sort"), 10).collect()
    assert(hits.nonEmpty)
  }

  test("resume after mid-build failure == fresh build") {
    val freshDir = tmpDir("graft-ckpt-a")
    val resumeDir = tmpDir("graft-ckpt-b")
    CheckpointedBuild.run(files, freshDir, nBuckets = 4)
    // interrupted run: one row of bucket 2 fails the sha256 invariant
    failBucket(resumeDir, 2, 4)
    val segMtimes = Seq(0, 1, 3).map(i => i -> mtime(s"$resumeDir/segments/bucket=$i"))
    // resumed run on the good corpus completes only the failed bucket
    CheckpointedBuild.run(files, resumeDir, nBuckets = 4)
    for ((i, t) <- segMtimes)
      assert(mtime(s"$resumeDir/segments/bucket=$i") === t, s"bucket $i segments")
    val a = CheckpointedBuild.load(spark, freshDir)
    val b = CheckpointedBuild.load(spark, resumeDir)
    assert(decodedOf(a) === decodedOf(b))
    assert(a.nDocs === b.nDocs)
    assert(math.abs(a.avgdl - b.avgdl) < 1e-12)
    // manifests of untouched buckets carry identical lineage
    val ma = CheckpointedBuild.readManifests(freshDir)
    val mb = CheckpointedBuild.readManifests(resumeDir)
    assert(ma.map(m => (m.partition_id, m.snapshot_id, m.rows, m.postings)) ===
      mb.map(m => (m.partition_id, m.snapshot_id, m.rows, m.postings)))
  }

  test("resume == fresh at every possible failure point") {
    val freshDir = tmpDir("graft-ckpt-allfresh")
    CheckpointedBuild.run(files, freshDir, nBuckets = 3)
    val want = decodedOf(CheckpointedBuild.load(spark, freshDir))
    for (failAt <- 0 to 2) {
      val dir = tmpDir(s"graft-ckpt-fail$failAt")
      failBucket(dir, failAt, 3)
      CheckpointedBuild.run(files, dir, nBuckets = 3)
      val got = decodedOf(CheckpointedBuild.load(spark, dir))
      assert(got === want, s"failure point $failAt")
    }
  }

  test("a failed build returns only after every bucket job has ended") {
    val (lo, hi) = idRange
    val width = math.max(1L, (hi - lo + 8) / 8)
    // 8 buckets on at most 4 pool threads; bucket 0 keeps one row, with a
    // wrong sha, so its job fails first while the others still build
    val docs = withBadSha(
      files.filter(col("doc_id") === lo || col("doc_id") >= lo + width), lo)
    val dir = tmpDir("graft-ckpt-failwait")
    val e = intercept[IllegalArgumentException](
      CheckpointedBuild.run(docs, dir, nBuckets = 8, idDomain = Some((lo, hi))))
    assert(e.getMessage.contains("sha256 invariant violated in bucket 0"))
    assert(graft.SparkSpec.activeJobIds(spark).isEmpty)
    assert(CheckpointedBuild.readManifests(dir).filter(_.status == "complete")
      .map(_.partition_id) === (1 until 8))
  }

  test("readManifests closes its directory streams") {
    val dir = tmpDir("graft-ckpt-fds")
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/manifest"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/manifest/bucket-0.json"),
      """{"partition_id": 0, "snapshot_id": "empty", "status": "complete"}""")
    def openFds = new java.io.File("/proc/self/fd").list().length
    val before = openFds
    for (_ <- 1 to 200) assert(CheckpointedBuild.readManifests(dir).length === 1)
    // a leaked stream per call would add 200; other threads may open a few
    assert(openFds - before < 50, s"open fds: $before -> $openFds")
  }

  test("resume invalidates buckets whose input slice changed (snapshot check)") {
    val dir = tmpDir("graft-ckpt-stale")
    CheckpointedBuild.run(files, dir, nBuckets = 4)
    val msBefore = CheckpointedBuild.readManifests(dir)
    // the corpus changes under the checkpoint dir: one doc's content edited
    val editedId = files.agg(min("doc_id")).head().getLong(0)
    val filesB = files
      .withColumn("content",
        when(col("doc_id") === editedId,
          concat(col("content"), lit(" zzstalechange"))).otherwise(col("content")))
      .withColumn("sha", sha2(col("content"), 256))
    // resuming into the same dir must rebuild the touched bucket, not skip it
    CheckpointedBuild.run(filesB, dir, nBuckets = 4)
    val freshB = tmpDir("graft-ckpt-staleFresh")
    CheckpointedBuild.run(filesB, freshB, nBuckets = 4)
    val got = CheckpointedBuild.load(spark, dir)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq
    val want = CheckpointedBuild.load(spark, freshB)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq
    assert(got === want)
    // the edited doc's bucket carries a new snapshot id; others unchanged
    val msAfter = CheckpointedBuild.readManifests(dir)
    val changed = msBefore.zip(msAfter).filter { case (a, b) =>
      a.snapshot_id != b.snapshot_id }
    assert(changed.length === 1)
  }

  test("incremental append rebuilds only the appended range's buckets") {
    val dir = tmpDir("graft-ckpt-incr")
    val b = files.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val width = math.max(1L, (hi - lo + 4) / 4)
    val cut = lo + 3 * width
    val domain = Some((lo, hi))
    // initial load: only the first three buckets' id range has rows
    CheckpointedBuild.run(files.filter(col("doc_id") < cut), dir,
      nBuckets = 4, idDomain = domain)
    val msBefore = CheckpointedBuild.readManifests(dir)
    assert(msBefore.length === 4)
    assert(msBefore.last.rows === 0L) // appended range still empty
    val manifestBytes = (0 until 3).map(i =>
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/manifest/bucket-$i.json")).toSeq)
    val segMtimes = (0 until 3).map(i =>
      Files.getLastModifiedTime(java.nio.file.Paths.get(s"$dir/segments/bucket=$i")))
    // append: same id domain, full corpus — only bucket 3's slice changed;
    // changedIds scopes the resume re-validation to that bucket's range
    val appendStats = CheckpointedBuild.run(files, dir, nBuckets = 4,
      idDomain = domain, changedIds = Some((cut, hi)))
    // the validation job scanned ONLY the appended range's rows — an append
    // into a 100 TB table must not pay a full-corpus doc_id+sha scan
    val appendedRows = files.filter(col("doc_id") >= cut).count()
    assert(appendStats.validatedRows === appendedRows)
    assert(appendedRows < files.count())
    val msAfter = CheckpointedBuild.readManifests(dir)
    assert(msAfter.map(_.rows).sum === files.count())
    assert(msAfter.last.rows > 0L)
    // untouched buckets: manifests byte-identical, segment dirs untouched
    for (i <- 0 until 3) {
      assert(Files.readAllBytes(java.nio.file.Paths.get(
        s"$dir/manifest/bucket-$i.json")).toSeq === manifestBytes(i), s"bucket $i")
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(
        s"$dir/segments/bucket=$i")) === segMtimes(i), s"bucket $i segments")
    }
    // appended result == fresh full build
    val freshDir = tmpDir("graft-ckpt-incrFresh")
    CheckpointedBuild.run(files, freshDir, nBuckets = 4, idDomain = domain)
    assert(CheckpointedBuild.load(spark, dir)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq ===
      CheckpointedBuild.load(spark, freshDir)
        .decoded(None).orderBy("term", "doc_id").collect().toSeq)
  }

  test("streaming ingest (foreachBatch appends) == fresh batch build") {
    val freshDir = tmpDir("graft-ckpt-streamfresh")
    CheckpointedBuild.run(files, freshDir, nBuckets = 4)
    val want = CheckpointedBuild.load(spark, freshDir)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq

    val src = tmpDir("graft-ckpt-streamsrc")
    val store = s"${tmpDir("graft-ckpt-streamstore")}/docs"
    val out = tmpDir("graft-ckpt-streamidx")
    val b = files.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cut = lo + math.max(1L, (hi - lo + 2) / 2)
    graft.streaming.StreamingOps.stageArrival(
      files.filter(col("doc_id") < cut), src, 0)
    graft.streaming.StreamingOps.stageArrival(
      files.filter(col("doc_id") >= cut), src, 1)
    val nBatches = graft.streaming.StreamingOps.indexIngest(
      spark, src, store, out, (lo, hi))
    assert(nBatches === 2) // maxFilesPerTrigger=1: one batch per arrival
    val got = CheckpointedBuild.load(spark, out)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq
    assert(got === want)
    val eng = CheckpointedBuild.load(spark, out)
    assert(eng.nDocs === files.count())
  }

  test("resume with a smaller nBuckets cleans orphan buckets (no double merge)") {
    val dir = tmpDir("graft-ckpt-shrink")
    CheckpointedBuild.run(files, dir, nBuckets = 6)
    assert(CheckpointedBuild.readManifests(dir).length === 6)
    val stats = CheckpointedBuild.run(files, dir, nBuckets = 4)
    assert(stats.nDocs === files.count()) // no double count from orphans
    assert(CheckpointedBuild.readManifests(dir).length === 4)
    val freshDir = tmpDir("graft-ckpt-shrinkFresh")
    CheckpointedBuild.run(files, freshDir, nBuckets = 4)
    assert(CheckpointedBuild.load(spark, dir)
      .decoded(None).orderBy("term", "doc_id").collect().toSeq ===
      CheckpointedBuild.load(spark, freshDir)
        .decoded(None).orderBy("term", "doc_id").collect().toSeq)
  }

  test("checkpointed search equals direct in-memory build") {
    val out = tmpDir("graft-ckpt-eq")
    CheckpointedBuild.run(files, out, nBuckets = 3)
    val ck = CheckpointedBuild.load(spark, out)
    val direct = CompressedSearchEngine.build(files)
    // the whole index and the corpus scalars, not only a top-k
    assert(decodedOf(ck) === decodedOf(direct))
    assert((ck.nDocs, ck.avgdl) === ((direct.nDocs, direct.avgdl)))
    val got = ck.searchTopK(Seq("merge", "sort", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = direct.searchTopK(Seq("merge", "sort", "window"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got === want)
  }

  test("a bucket whose docs yield no tokens counts its rows and checks their sha256") {
    import spark.implicits._
    val dir = tmpDir("graft-ckpt-tokenless")
    // bucket 0 (docs 0, 1) has rows but an empty posting stream
    def corpus(badSha: Long) = {
      val p = s"$dir/corpus-$badSha"
      Seq(0L -> "!!! ???", 1L -> "", 2L -> "alpha beta", 3L -> "beta gamma")
        .toDF("doc_id", "content")
        .withColumn("sha", when(col("doc_id") === badSha, lit("0" * 64))
          .otherwise(sha2(col("content"), 256)))
        .write.parquet(p)
      spark.read.parquet(p)
    }
    val docs = corpus(-1L)
    val out = s"$dir/index"
    val stats = CheckpointedBuild.run(docs, out, nBuckets = 2)
    assert(stats.nDocs === 4)
    val ms = CheckpointedBuild.readManifests(out)
    assert(ms.map(m => (m.rows, m.sha_ok, m.postings)) === Seq((2L, 2L, 0L), (2L, 2L, 4L)))
    assert(ms.head.snapshot_id !== "empty")
    // the resume re-validation finds bucket 0 unchanged and skips it
    val seg0 = java.nio.file.Paths.get(s"$out/segments/bucket=0")
    val seg0Mtime = Files.getLastModifiedTime(seg0)
    CheckpointedBuild.run(docs, out, nBuckets = 2)
    assert(Files.getLastModifiedTime(seg0) === seg0Mtime)
    // the checkpointed engine == the in-memory constructor's engine
    val ck = CheckpointedBuild.load(spark, out)
    val mem = CompressedSearchEngine.build(docs)
    assert((ck.nDocs, ck.avgdl) === ((mem.nDocs, mem.avgdl)))
    val terms = Seq("alpha", "beta", "gamma")
    assert(ck.searchTopK(terms).collect().toSeq === mem.searchTopK(terms).collect().toSeq)
    // a corpus with no tokens at all: avgdl 0.0 on both paths
    val none = docs.filter(col("doc_id") < 2)
    val noneStats = CheckpointedBuild.run(none, s"$dir/none", nBuckets = 2)
    val noneMem = CompressedSearchEngine.build(none)
    assert((noneStats.nDocs, noneStats.avgdl) === ((2L, 0.0)))
    assert((noneMem.nDocs, noneMem.avgdl) === ((2L, 0.0)))
    // a bad sha on a token-less doc fails the build like one on any doc
    for (bad <- Seq(0L, 2L)) {
      val e = intercept[IllegalArgumentException](
        CheckpointedBuild.run(corpus(bad), s"$dir/bad-$bad", nBuckets = 2))
      assert(e.getMessage.contains("sha256 invariant violated"), s"bad sha on doc $bad")
    }
  }
}
