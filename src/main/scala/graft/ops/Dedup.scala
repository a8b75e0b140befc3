package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over the
  * `documents(doc_id, text, lang, source, n_chars)` table.
  *
  * All hash families are built from md5 (identical in Spark and DuckDB), so
  * every operator is bit-reproducible by the driver's oracle. Each stage is
  * pure column expressions → whole-stage codegen, shuffles only at the
  * documented groupBys/joins.
  *
  * Scale notes (100 TB posture):
  *  - exact: one hash-shuffle on the content digest (never on raw content).
  *  - MinHash/LSH: shingling+signatures are narrow; the only wide ops are
  *    the (doc, band-bucket) groupBy and the bucket self-join, whose fanout
  *    is bounded by bucket collision counts, not corpus size.
  *  - n-gram Jaccard: candidate pairs come only from shared-shingle joins —
  *    at scale you'd pre-filter to df(shingle) ≤ cap to bound Σ df²; the cap
  *    is a parameter here.
  */
object Dedup {

  /** Lowercased word array (shared with the "simple" analyzer; graft_tokens —
    * see graft.functions.AsciiTokens — requires GraftFunctions.register on
    * the session first). */
  def wordsCol(text: Column): Column =
    graft.functions.GraftFunctions.asciiTokens(text)

  private def withWords(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    documents.select(col("doc_id"), col("text"),
      wordsCol(col("text")).as("words"))
  }

  /** Spread a narrow heavy-compute stage across the cluster when the input
    * has fewer splits than cores (the driver's documents table is ONE
    * parquet file, so md5-heavy per-doc expressions otherwise run serial —
    * measured: the fused minhash signature stage was input-split-bound, not
    * md5-bound). Conditional: a 100 TB input already has thousands of
    * splits and must NOT pay a raw-text shuffle for parallelism. */
  private[ops] def widen(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.max(2, cores / 2)) df
    else df.repartition(cores)
  }

  /** Exact dedup: hash-groupBy on the content digest; keeper = min doc_id. */
  def exact(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("grp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_dups"))
      .orderBy("grp")

  /** 3-word shingles, one row per (doc, position). */
  def shingles(documents: DataFrame): DataFrame =
    withWords(documents).select(col("doc_id"),
      explode(expr(
        """transform(IF(size(words) >= 3, sequence(1, size(words) - 2), array()),
          |  i -> concat_ws(' ', words[i-1], words[i], words[i+1]))""".stripMargin
      )).as("shingle"))

  /** One row per doc with all nHashes MinHash minima as columns m0..m{n-1}.
    * ZERO exchanges: the whole signature is ONE fused native function
    * eval per document (graft.functions.MinHashSigs — the CompactTokens
    * pattern applied to dedup). The previous shape exploded one row per
    * shingle and ran nHashes min(md5(...)) aggregate columns through a
    * doc_id hash agg; the md5 count is identical here (min over shingles of
    * md5("h|" + shingle), same hash family the DuckDB oracle mirrors,
    * digest-compared so only final minima pay hex conversion) but there are
    * no per-shingle rows, no agg probes and no exchange at all. Docs with
    * < 3 words have no shingles → null signature → filtered, exactly the
    * rows the groupBy formulation dropped. The wide m0..m{n-1} projection
    * extracts from ONE evaluated array (CollapseProject keeps a non-cheap
    * multi-referenced alias in its own project — plan-audited). */
  private def minhashWide(documents: DataFrame, nHashes: Int): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // explode_outer + isNotNull on the GENERATOR OUTPUT (the Stats.postings
    // pattern): a filter on the expression value itself would be pushed
    // below the projection by predicate substitution and evaluate the whole
    // signature twice per row
    widen(documents)
      .select(col("doc_id"), explode_outer(graft.functions.GraftFunctions
        .minhashSigs(wordsCol(col("text")), nHashes)).as("ms"))
      .filter(col("ms").isNotNull)
      .select(col("doc_id") +:
        (0 until nHashes).map(h => col("ms").getItem(h).as(s"m$h")): _*)
  }

  /** MinHash signatures: sig(doc, h) = min over distinct shingles of
    * md5(h || '|' || shingle), h ∈ [0, nHashes) — unpivoted from
    * [[minhashWide]] (#docs × nHashes rows, narrow). */
  def minhashSignatures(documents: DataFrame, nHashes: Int = 16): DataFrame =
    minhashWide(documents, nHashes).selectExpr("doc_id",
      s"stack($nHashes, ${(0 until nHashes)
        .map(h => s"$h, m$h").mkString(", ")}) as (h, sig)")

  /** LSH banding: bucket(doc, band) = md5 of the band's h-ordered sigs —
    * built straight from the wide signature row (pure column expressions,
    * no (doc, band) groupBy: the band's members and their h-order are known
    * statically, so the old sort_array(collect_list(...)) exchange reduces
    * to a concat). */
  def lshBuckets(documents: DataFrame, nHashes: Int = 16,
                 rowsPerBand: Int = 4): DataFrame = {
    val nBands = (nHashes + rowsPerBand - 1) / rowsPerBand
    val bandCols = (0 until nBands).map { b =>
      val entries = (b * rowsPerBand until math.min(nHashes, (b + 1) * rowsPerBand))
        .map(h => concat(lit(f"$h%02d:"), col(s"m$h")))
      struct(lit(b).as("band"), md5(array_join(array(entries: _*), "|")).as("bucket"))
    }
    minhashWide(documents, nHashes)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  /** MinHash+LSH candidate pairs: docs sharing any band bucket. The bucket
    * frame is explicitly repartitioned on the join key BEFORE the self-join:
    * with the fused narrow signature expression there is no aggregation
    * exchange left in the plan, so without this the self-join's second side
    * would recompute every signature from the raw text (the exchange is what
    * Spark's ReuseExchange dedups — plan-audited). One tiny (band, bucket,
    * doc_id) exchange replaces the old signature-agg exchange. */
  def minhashPairs(documents: DataFrame, nHashes: Int = 16,
                   rowsPerBand: Int = 4): DataFrame = {
    val b = lshBuckets(documents, nHashes, rowsPerBand)
      .repartition(col("band"), col("bucket"))
    val l = b.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val r = b.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    l.join(r, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** n-gram Jaccard similarity: top-k most similar pairs among docs sharing
    * at least one shingle. `maxDf` caps shingle document frequency BEFORE the
    * self-join and is ON by default: the pair fanout of a shared shingle is
    * df², so one stopword-grade shingle (df ~ corpus size) is a task-killing
    * hot key at 100 TB — capped, the join cost is bounded by Σ min(df,cap)².
    * High-df shingles carry ~zero near-dup signal (they are the corpus'
    * boilerplate), so the capped Jaccard is the estimator you actually want
    * at scale; pass `Long.MaxValue` for the exact all-shingles variant. */
  def ngramJaccardTop(documents: DataFrame, k: Int = 20,
                      maxDf: Long = 100L): DataFrame = {
    val dsh = shingles(documents).distinct()
    val filtered =
      if (maxDf == Long.MaxValue) dsh
      else {
        val rare = dsh.groupBy("shingle").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("shingle")
        dsh.join(rare, Seq("shingle"), "left_semi")
      }
    val sizes = dsh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = filtered.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(filtered.select(col("shingle"), col("doc_id").as("doc_b")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sa"), Seq("doc_a"))
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sb"), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter") / (col("sa") + col("sb") - col("inter")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc_a").asc, col("doc_b").asc)
      .limit(k)
  }

  /** Connected components over an undirected near-dup pair set
    * (`doc_a`, `doc_b`) by min-label propagation: label(v) starts as
    * min(v, min neighbor) and each round propagates the minimum one hop
    * until fixpoint. Rounds = component diameter — tiny for near-dup
    * graphs, because LSH band buckets emit near-cliques. Each round is one
    * doc_id equi-join + groupBy (two bounded shuffles), persisted so the
    * fixpoint check (a count) never recomputes the chain; at 100 TB you
    * would additionally localCheckpoint every few rounds to truncate
    * lineage, and for adversarial long-path graphs switch to the
    * large-star/small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"), which bounds rounds at
    * O(log² n) with the same per-round plan shape. No driver-side graph:
    * the only actions are the per-round convergence counts.
    *
    * Output: (doc_id, cluster_id) for every doc appearing in a pair, with
    * cluster_id = min doc_id of the component. Reference analog: the image
    * insert pass keeps one stored object per duplicate-URL group
    * (dbManager/dbManager.java:426-465) — this is that grouping made
    * transitive, which is what a training-data dedup actually needs (A~B
    * and B~C must collapse to ONE kept document even when A~C was never
    * emitted as a pair). */
  /** Symmetric edge frame (src, dst) for [[clusters]]. */
  private[graft] def symmetricEdges(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))

  /** One min-label propagation round: (v, lab, nlab) where nlab =
    * min(lab, min over neighbors' lab). Two bounded doc_id shuffles
    * (edge⨝label equi-join + min hash agg) — the per-round plan shape
    * audited in PLANS.md / PlanAuditSpec. */
  private[graft] def propagationRound(e: DataFrame, lab: DataFrame): DataFrame = {
    val prop = e.join(lab.select(col("v").as("dst"), col("lab").as("dlab")), "dst")
      .groupBy("src").agg(min(col("dlab")).as("plab"))
    lab.join(prop.withColumnRenamed("src", "v"), Seq("v"))
      .select(col("v"), col("lab"), least(col("lab"), col("plab")).as("nlab"))
  }

  def clusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val e = symmetricEdges(pairs).persist()
    var lab = e.groupBy("src").agg(min(col("dst")).as("m"))
      .select(col("src").as("v"), least(col("src"), col("m")).as("lab"))
    var prev: DataFrame = null
    var iter = 0
    var done = false
    while (!done && iter < maxIter) {
      val step = propagationRound(e, lab).persist()
      // count() (not isEmpty) so the action scans — and therefore fully
      // caches — every partition of this round's frame: later rounds and
      // the final orderBy then never recompute the iteration chain
      done = step.filter(col("nlab") < col("lab")).count() == 0L
      if (prev != null) prev.unpersist()
      prev = step
      lab = step.select(col("v"), col("nlab").as("lab"))
      iter += 1
    }
    e.unpersist()
    // Silent truncation at maxIter would return WRONG cluster_ids (and
    // representatives() would then keep several docs of one true cluster).
    // Near-clique LSH graphs converge in a handful of rounds; a component
    // whose propagation distance exceeds maxIter is the documented cue to
    // switch to large-star/small-star — fail loudly instead of guessing,
    // releasing the last round's cached frame first (null when maxIter = 0).
    if (!done && prev != null) prev.unpersist()
    require(done,
      s"clusters: min-label propagation did not converge in $maxIter " +
        "rounds (component diameter exceeds maxIter); raise maxIter or " +
        "use the large-star/small-star alternation for long-path graphs")
    // the final round's persisted frame intentionally stays cached: the
    // returned plan projects it, and unpersisting here would force a full
    // recompute of the whole iteration chain on first use
    lab.select(col("v").as("doc_id"), col("lab").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Dedup filter: keep ONE representative (min doc_id) per near-dup
    * cluster; docs appearing in no pair survive unchanged. Survivors =
    * documents ∖ {cluster members that are not their cluster's minimum} —
    * a single left_anti join on doc_id after [[clusters]]. */
  def representatives(documents: DataFrame, pairs: DataFrame,
                      maxIter: Int = 20): DataFrame = {
    val losers = clusters(pairs, maxIter)
      .filter(col("doc_id") =!= col("cluster_id")).select("doc_id")
    documents.join(losers, Seq("doc_id"), "left_anti")
  }

  /** SimHash (32-bit): bit j = sign of Σ_tokens tf · (parity of the j-th hex
    * digit of md5(token) ? +1 : −1). Pure integer arithmetic → exact in both
    * engines. Fully narrow since r6 — no explode, no agg, no exchange. */
  def simhash(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    // ONE fused function eval per doc (graft.functions.SimHashVal): same
    // md5-hex-digit-parity family as the 32 conditional-sum aggregate
    // columns it replaces (digit j odd → +1 else −1, bit j = sum > 0), but
    // with no token explode, no 32-column agg and no doc_id exchange. Docs
    // with zero tokens → null → filtered (the rows groupBy dropped).
    documents.select(col("doc_id"), explode_outer(graft.functions
        .GraftFunctions.simhashVal(wordsCol(col("text")))).as("simhash"))
      .filter(col("simhash").isNotNull)
      .orderBy("doc_id")
  }
}
