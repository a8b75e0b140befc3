package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded corpus and query-mix generator. Everything here is a pure function
  * of `(seed, size)`: documents are generated independently from a per-doc
  * random stream, so the same seed gives byte-identical rows in any order.
  *
  * Corpus shape: `files(doc_id, repo, path, commit, lang, content, sha)`.
  * Content is code-shaped lines of language keywords, Zipf-distributed
  * identifiers (s = 1.07 over [[VocabSize]] names), a few idiom lines that
  * give common phrases, and planted rare terms and phrases at fixed
  * per-document rates. File length in lines is Pareto-distributed
  * (alpha 1.5, so a heavy tail), capped at [[MaxLines]], and stratified so
  * that seeds change which file is long but not the total size.
  */
object Gen {

  final case class Doc(doc_id: Long, repo: String, path: String,
                       commit: String, lang: String, content: String,
                       sha: String)

  val VocabSize = 20000
  val ZipfS = 1.07
  val MinLines = 12
  val MaxLines = 1500
  val ParetoAlpha = 1.5
  val LengthBlock = 250

  /** Planted rare single terms: each lands in exactly one document of every
    * [[RarePeriod]] consecutive doc ids (df = 0.05% of docs, below the 0.1%
    * rare cut), at a seeded offset. */
  val RareTerms: Seq[String] = Seq("qzxvortex", "blorfquant", "snarkwidget",
    "frobnozzle", "wibbleplex", "glorpmatic", "zindlecrux", "yaffoldmesh")
  /** Planted rare two-word phrases, same rate; the words occur nowhere else. */
  val RarePhrases: Seq[String] = Seq("vextral quorbin", "mintova scrafel",
    "plunketh droval", "ozzimar kelthra")
  val RarePeriod = 2000

  /** Idiom lines: each line of a file is one of these with probability
    * [[IdiomRate]], so their word pairs are common phrases. */
  val Idioms: Seq[String] = Seq("private static final", "return null",
    "if err != nil", "for i in range", "yield from items", "import java.util",
    "throw new error", "else return result")
  val IdiomRate = 0.08
  /** Word pairs that occur verbatim in [[Idioms]], each in one idiom. */
  val CommonPhrases: Seq[String] = Seq("static final", "return null", "if err",
    "for i", "yield from", "import java", "throw new", "else return")
  /** Vocabulary ranks the request cycle uses as common terms. */
  val CommonRanks: Seq[Int] = Seq(3, 5, 8, 4, 9)

  private val Langs = Seq("scala", "java", "py", "go", "js", "rs")
  private val Keywords: Map[String, Seq[String]] = Map(
    "scala" -> Seq("def", "val", "var", "object", "class", "match", "case", "import"),
    "java" -> Seq("public", "private", "static", "void", "class", "new", "import", "return"),
    "py" -> Seq("def", "self", "return", "import", "from", "class", "lambda", "yield"),
    "go" -> Seq("func", "package", "return", "struct", "defer", "chan", "import", "var"),
    "js" -> Seq("function", "const", "let", "return", "export", "async", "await", "new"),
    "rs" -> Seq("fn", "let", "mut", "impl", "pub", "struct", "match", "use"))
  private val Ext = Map("scala" -> "scala", "java" -> "java", "py" -> "py",
    "go" -> "go", "js" -> "js", "rs" -> "rs")

  // three-letter syllables for identifier names, so a name's length depends
  // on its rank only; none spells a rare word, an idiom word or a
  // suggestion-history starter
  private val Syllables = Seq("par", "sev", "buf", "idx", "tok", "req", "res",
    "map", "red", "scn", "srt", "mer", "gen", "shd", "cah", "fet", "chk",
    "spl", "itr", "bat", "seg", "pst", "ing", "rnk", "scr", "nod", "pol",
    "lck", "tsk", "job", "qry", "log", "cnf", "dat", "row", "col", "key",
    "val", "hsh", "tre", "lst", "vec", "str", "num", "cnt", "len", "pos",
    "off", "blk", "pgs", "wal", "net", "ioq", "mem", "gcx", "cpu", "ptr",
    "ref", "obj", "cls", "fnc", "arg", "ret", "sig")

  /** 64-bit mix (splitmix64 finalizer) for deriving independent streams. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b + 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The identifier vocabulary, rank 0 most frequent. Names are camelCase
    * (one token under the simple analyzer) of seeded syllables, so the words
    * differ by seed; every eighth rank has two syllables, the others three,
    * and every fifth a digit, so name lengths by rank do not. */
  def vocab(seed: Long): IndexedSeq[String] = {
    val rnd = new SplittableRandom(mix(seed, 1L))
    val n = Syllables.length
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val parts = if (seen.size % 8 == 0) 2 else 3
      val sb = new StringBuilder
      var i = 0
      while (i < parts) {
        val s = Syllables(rnd.nextInt(n))
        sb.append(if (i == 0) s else s.capitalize)
        i += 1
      }
      if (seen.size % 5 == 4) sb.append(rnd.nextInt(10))
      seen += sb.toString
    }
    seen.toIndexedSeq
  }

  /** Zipf CDF over vocabulary ranks. */
  def zipfCdf(n: Int = VocabSize, s: Double = ZipfS): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }

  private def zipfDraw(cdf: Array[Double], rnd: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  def sha256Hex(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** A generator bound to one seed; holds the vocabulary and CDF. */
  final class Corpus(val seed: Long) {
    val words: IndexedSeq[String] = vocab(seed)
    private val cdf = zipfCdf()
    private val rareOffset = Array.tabulate(RareTerms.length + RarePhrases.length)(
      i => Math.floorMod(mix(seed, 10L + i), RarePeriod.toLong))
    private def planted(i: Int, id: Long) = (id + rareOffset(i)) % RarePeriod == 0

    /** Stratified Pareto draw: each block of [[LengthBlock]] consecutive ids
      * takes the quantiles (j + 0.5) / LengthBlock in a seeded order, so
      * every block has the same heavy-tailed length mix. */
    private def lengthQuantile(id: Long): Double = {
      val block = id / LengthBlock
      val order = Array.range(0, LengthBlock)
      val rnd = new SplittableRandom(mix(seed, 7919L * (block + 1)))
      var i = LengthBlock - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = order(i); order(i) = order(j); order(j) = t
        i -= 1
      }
      (order((id % LengthBlock).toInt) + 0.5) / LengthBlock
    }

    def doc(id: Long): Doc = {
      val rnd = new SplittableRandom(mix(seed, 1000003L + id))
      val lang = Langs(rnd.nextInt(Langs.length))
      val kws = Keywords(lang)
      def ident() = words(zipfDraw(cdf, rnd))
      val lines = math.min(MaxLines,
        (MinLines / math.pow(lengthQuantile(id), 1.0 / ParetoAlpha)).toInt)
      val plants = (RareTerms ++ RarePhrases).zipWithIndex
        .collect { case (w, i) if planted(i, id) => (rnd.nextInt(lines), w) }
      val sb = new StringBuilder(lines * 40)
      var l = 0
      while (l < lines) {
        if (rnd.nextDouble() < IdiomRate) sb.append(Idioms(rnd.nextInt(Idioms.length)))
        else rnd.nextInt(4) match {
          case 0 => sb.append(kws(rnd.nextInt(kws.length))).append(' ')
              .append(ident()).append('(').append(ident()).append(", ")
              .append(ident()).append(") {")
          case 1 => sb.append("  ").append(kws(rnd.nextInt(kws.length)))
              .append(' ').append(ident()).append(" = ").append(ident())
              .append('.').append(ident()).append("()")
          case 2 => sb.append("  // ").append(ident()).append(' ')
              .append(ident()).append(' ').append(ident())
          case _ => sb.append("  ").append(ident()).append('.')
              .append(ident()).append('(').append(ident()).append(')')
        }
        plants.foreach { case (at, w) => if (at == l) sb.append(' ').append(w) }
        sb.append('\n')
        l += 1
      }
      val content = sb.toString
      val repo = s"org${rnd.nextInt(40)}/${words(rnd.nextInt(2000))}"
      val path = s"src/${words(rnd.nextInt(500))}/${words(rnd.nextInt(VocabSize)).capitalize}$id.${Ext(lang)}"
      val commit = f"${rnd.nextLong()}%016x${rnd.nextLong()}%016x${rnd.nextInt()}%08x"
      Doc(id, repo, path, commit, lang, content, sha256Hex(content))
    }

    def docs(from: Long, until: Long): Iterator[Doc] =
      Iterator.range(from, until).map(doc)
  }

  /** One served request of the mix: `cls` ∈ {token, phrase, bool, suggest};
    * `page` is set for paged token queries; `probe` marks the requests that
    * traced runs break down layer by layer. `terms` are the query's analyzer
    * terms, for the df record. */
  final case class Request(cls: String, text: String,
                           page: Option[(Int, Int)] = None,
                           probe: Boolean = false) {
    def terms: Seq[String] =
      if (cls == "suggest") Seq.empty
      else text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .filterNot(Set("and", "or", "not")).distinct.toSeq
  }

  /** Suggestion-history starters: no served query normalizes to a string
    * with these prefixes, so suggestions stay fixed while the log grows. */
  val HistoryStarters: Seq[String] = Seq("howto", "whyis", "whereis")

  /** Seeded suggestion history: (raw query, times logged). */
  def history(seed: Long, words: IndexedSeq[String]): Seq[(String, Int)] = {
    val rnd = new SplittableRandom(mix(seed, 3L))
    (0 until 120).map { _ =>
      val q = s"${HistoryStarters(rnd.nextInt(HistoryStarters.length))} " +
        s"${words(rnd.nextInt(300))} ${words(rnd.nextInt(3000))}"
      (q, 1 + rnd.nextInt(4))
    }.distinctBy(_._1)
  }

  /** The seeded request cycle: twelve requests in a fixed order of fixed
    * kinds, over terms of fixed frequency, so seeds change the words but not
    * the work. Token queries: a rare term alone, rare + common, two common
    * terms, common + mid + common paged (page 2 of 10). Phrases: a rare
    * phrase and a common one. Booleans: rare AND common, common OR common,
    * common NOT common. Three suggestion prefixes. Common terms are the
    * vocabulary ranks in [[CommonRanks]], mid ones rank 200; common phrases
    * are [[CommonPhrases]], which occur equally often. */
  def requests(seed: Long, words: IndexedSeq[String]): Seq[Request] = {
    val rnd = new SplittableRandom(mix(seed, 2L))
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    val Seq(c1, c2, c3, c4, c5) = CommonRanks.map(words)
    val mid = words(200)
    val rare = RareTerms.sortBy(_ => rnd.nextLong())
    val rareP = RarePhrases.sortBy(_ => rnd.nextLong())
    val common = CommonPhrases.sortBy(_ => rnd.nextLong())
    def q(p: String) = "\"" + p + "\""
    val hist = history(seed, words).map(_._1)
    def prefix() = {
      val h = pick(hist)
      h.substring(0, h.indexOf(' ') + 2)
    }
    Seq(
      Request("token", rare(0), probe = true),
      Request("phrase", q(rareP(0)), probe = true),
      Request("bool", q(rareP(1)) + " and " + q(common(0)), probe = true),
      Request("suggest", prefix(), probe = true),
      Request("token", s"${rare(1)} $c1"),
      Request("token", s"$c2 $c3", probe = true),
      Request("bool", q(common(1)) + " or " + q(common(2)), probe = true),
      Request("phrase", q(common(3)), probe = true),
      Request("suggest", prefix()),
      Request("token", s"$c4 $mid $c5", Some((2, 10)), probe = true),
      Request("bool", q(common(4)) + " not " + q(common(5))),
      Request("suggest", prefix()))
  }

  /** SHA-256 over a canonical serialization of rows, for determinism
    * checks. */
  def digest(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes(UTF_8)); md.update(0.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def docLine(d: Doc): String =
    Seq(d.doc_id.toString, d.repo, d.path, d.commit, d.lang, d.content, d.sha)
      .mkString("\u0001")
}

/** Prints the SHA-256 of the corpus and of the request cycle for a seed:
  * `perfbench.Digest <seed> <docs>`. The benchmark's tests check that one
  * seed always gives the same bytes and that another seed does not. */
object Digest {
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong
    val c = new Gen.Corpus(seed)
    println(Gen.digest(c.docs(0, args(1).toLong).map(Gen.docLine)))
    println(Gen.digest(Gen.requests(seed, c.words).iterator.map(r => s"${r.cls}|${r.text}|${r.page}") ++
      Gen.history(seed, c.words).iterator.map { case (q, n) => s"$q|$n" }))
  }
}
