package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-6 fused native functions == the HOF/aggregate formulations they
  * replaced, bit-for-bit, on randomized inputs — the replaced formulations
  * are re-stated inline here as the reference semantics (they are what the
  * DuckDB oracles mirror) — and every Graft function's null and
  * whole-stage-codegen behaviour. */
class FusedExprSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(42)
  graft.functions.GraftFunctions.register(spark)

  test("CosineSim == aggregate/zip_with HOF fold, bit-for-bit") {
    val rows = (0L until 200L).map { i =>
      val d = 1 + rnd.nextInt(64)
      (i, Array.fill(d)((rnd.nextGaussian() * 3).toFloat),
        Array.fill(d)((rnd.nextGaussian() * 3).toFloat))
    }
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(zip_with(col("a"), col("b"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    def n(c: org.apache.spark.sql.Column) = sqrt(aggregate(zip_with(c, c,
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v))
    val got = df.select(col("id"),
      GraftFunctions.cosineSim(col("a"), col("b")).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = df.select(col("id"),
      (hof / (n(col("a")) * n(col("b")))).as("c")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === want)
  }

  test("CosineSim null semantics: length mismatch → null") {
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
    assert(df.select(GraftFunctions.cosineSim(col("a"), col("b")))
      .collect().head.isNullAt(0))
  }

  test("SignBucket == aggregate/zip_with/pow HOF chain") {
    val rows = (0L until 200L).map { i =>
      val d = 1 + rnd.nextInt(16)
      (i, Array.fill(d)((rnd.nextGaussian()).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    for (nBits <- Seq(4, 8, 12)) {
      val hof = expr(s"""aggregate(
         |  zip_with(slice(embedding, 1, $nBits), sequence(0, ${nBits - 1}),
         |    (x, i) -> IF(x > 0, CAST(pow(2, i) AS BIGINT), 0L)),
         |  0L, (acc, b) -> acc + b)""".stripMargin)
      val got = df.select(col("vec_id"),
        GraftFunctions.signBucket(col("embedding"), nBits)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = df.select(col("vec_id"), hof).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want, s"nBits=$nBits")
    }
  }

  private def randText(maxWords: Int): String = {
    val vocab = Seq("Merge", "sort", "WINDOW", "scan", "a1", "B2", "łódź",
      "hash", "join", "the", "x")
    Seq.fill(rnd.nextInt(maxWords))(vocab(rnd.nextInt(vocab.size)))
      .mkString(" ")
  }

  test("MinHash fused == explode+groupBy+min(md5) formulation") {
    val docs = (0L until 120L).map(i => (i, randText(12))).toDF("doc_id", "text")
    val nHashes = 16
    val sh = docs
      .select(col("doc_id"), GraftFunctions.asciiTokens(col("text")).as("ws"))
      .select(col("doc_id"), explode(expr(
        """transform(IF(size(ws) >= 3, sequence(1, size(ws) - 2), array()),
          |  i -> concat_ws(' ', ws[i-1], ws[i], ws[i+1]))""".stripMargin))
        .as("shingle"))
    val mins = (0 until nHashes).map(h =>
      min(md5(concat(lit(s"$h|"), col("shingle")))).as(s"m$h"))
    val want = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .collect().map(r => r.getLong(0) ->
        (1 to nHashes).map(r.getString).toSeq).toMap
    val got = docs.select(col("doc_id"), explode_outer(GraftFunctions
        .minhashSigs(GraftFunctions.asciiTokens(col("text")), nHashes)).as("ms"))
      .filter(col("ms").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got === want)
  }

  test("SimHash fused == 32 conditional-sum aggregate columns") {
    val docs = (0L until 120L).map(i => (i, randText(10))).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
        explode(GraftFunctions.asciiTokens(col("text"))).as("term"))
      .withColumn("h", md5(col("term")))
    val sums = (0 until 32).map { j =>
      sum(when(expr(
        s"instr('0123456789abcdef', substring(h, ${j + 1}, 1)) % 2") === 0,
        lit(1L)).otherwise(lit(-1L))).as(s"s$j")
    }
    val want = toks.groupBy("doc_id").agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = docs.select(col("doc_id"), explode_outer(GraftFunctions
        .simhashVal(GraftFunctions.asciiTokens(col("text")))).as("simhash"))
      .filter(col("simhash").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("FingerprintMin == aggregate(least(md5(substring))) HOF fold") {
    val texts = Seq("", "a", "1234567", "12345678", "123456789",
      "der größte Käfer läuft", "łódź żółta łódź żółta x",
      randText(40), randText(80), "AAAAAAAAAAAAAAA")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val want = df.select(col("doc_id"),
      expr("""aggregate(sequence(1, greatest(length(text) - 7, 1)), 'g',
             |  (acc, i) -> least(acc, md5(substring(text, i, 8))))"""
        .stripMargin).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = df.select(col("doc_id"),
      GraftFunctions.fingerprintMin(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want)
  }

  test("AsciiContains == contains(asciiLower(h), asciiLower-normalized n)") {
    val hays = Seq("", "abc", "ABC def", "the HASH join path", "xyzHASH",
      "łódź HAsh JOin", "hash jo", "rehash joins", "ha sh join")
    val needles = Seq("", "hash join", "HASH JOIN", "abc", "z", "łódź",
      "hash jo", "ash join")
    val rows = for (h <- hays; n <- needles) yield (h, n)
    val df = rows.toDF("h", "n")
    val got = df.select(col("h"), col("n"),
      GraftFunctions.asciiContains(col("h"), col("n"))).collect()
    got.foreach { r =>
      val h = r.getString(0); val n = r.getString(1)
      val want = AsciiLower.lowerString(h).contains(AsciiLower.lowerString(n))
      assert(r.getBoolean(2) === want, s"h=[$h] n=[$n]")
    }
  }

  /** Every Graft function: its name, the static helper it calls and one
    * valid non-null value per argument. The posting is doc 3 (tf 1, len 5):
    * bytes gap 4, tf 1, len 5; its positions record is count 1, gap 1. */
  private val calls: Seq[(String, String, Seq[(DataType, Any)])] = {
    import GraftFunctions._
    val posting = Array[Byte](4, 1, 5)
    val floats = ArrayType(FloatType)
    val words = ArrayType(StringType)
    val blocks = ArrayType(StructType(Seq(
      StructField("last_doc_id", LongType), StructField("max_tf", IntegerType),
      StructField("max_weight", DoubleType), StructField("offset", IntegerType))))
    Seq(
      (AsciiLowerName, "AsciiLower.lower", Seq(StringType -> "Ab")),
      (AsciiTokensName, "AsciiTokens.tokenize", Seq(StringType -> "a B")),
      (AsciiContainsName, "AsciiContains.containsLower",
        Seq(StringType -> "Hash join", StringType -> "hash")),
      (CompactTokensName, "CompactTokens.compact", Seq(StringType -> "a b a")),
      (DecodePostingsName, "DecodePostings.decode", Seq(BinaryType -> posting)),
      (DecodeDocPositionsName, "DecodeDocPositions.decode",
        Seq(BinaryType -> posting, BinaryType -> Array[Byte](1, 1))),
      (DecodeBlocksName, "DecodePostingsBlocks.decode",
        Seq(BinaryType -> posting, blocks -> Seq(Row(3L, 1, 1.0, 0)),
          LongType -> 0L, LongType -> 10L, DoubleType -> 0.0)),
      (CosineSimName, "CosineSim.cosine",
        Seq(floats -> Seq(1f, 2f), floats -> Seq(2f, 1f))),
      (SignBucketName, "SignBucket.bucket",
        Seq(floats -> Seq(1f, -1f), IntegerType -> 2)),
      (MinHashSigsName, "MinHashSigs.sigs",
        Seq(words -> Seq("a", "b", "c"), IntegerType -> 4)),
      (SimHashName, "SimHashVal.simhash", Seq(words -> Seq("a"))),
      (FingerprintName, "FingerprintMin.fingerprint",
        Seq(StringType -> "abcdefghij")))
  }

  test("every Graft function: a null argument gives null, and the call " +
      "runs inside whole-stage codegen over a parquet scan") {
    val registered = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet
    assert(calls.map(_._1).toSet === registered)
    // a generated-code compile error must fail here, not fall back to the
    // interpreted plan
    val fallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try for ((name, helper, args) <- calls) {
      val schema = StructType(StructField("id", IntegerType) +:
        args.indices.map(i => StructField(s"a$i", args(i)._1)))
      // row 0 sets every argument; row i nulls argument i-1 only
      val rows = (0 to args.length).map(r => Row.fromSeq(r +:
        args.indices.map(i => if (i == r - 1) null else args(i)._2)))
      val dir = tmpDir(name)
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir).select(col("id"),
        call_function(name, args.indices.map(i => col(s"a$i")): _*))
      val isNull = df.collect().map(r => r.getInt(0) -> r.isNullAt(1)).toMap
      assert(isNull === (0 to args.length).map(i => i -> (i > 0)).toMap, name)
      val plan = df.queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec =>
        w.child.collect { case n => n.expressions }.flatten.flatMap(_.collect {
          case s: StaticInvoke =>
            s.staticObject.getName.stripSuffix("$") + "." + s.functionName
        })
      }.flatten
      assert(fused.contains(s"graft.functions.$helper"), s"$name:\n$plan")
    } finally spark.conf.set("spark.sql.codegen.fallback", fallback)
  }
}
