package graft.analyze

import org.scalatest.funsuite.AnyFunSuite

class PorterStemmerSpec extends AnyFunSuite {
  // Vectors from the published Porter (1980) examples.
  val vectors: Seq[(String, String)] = Seq(
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
    "caress" -> "caress", "cats" -> "cat",
    "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
    "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
    "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
    "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
    "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
    "filing" -> "file",
    "happy" -> "happi", "sky" -> "sky",
    "relational" -> "relat", "conditional" -> "condit", "rational" -> "ration",
    "valenci" -> "valenc", "hesitanci" -> "hesit", "digitizer" -> "digit",
    "radicalli" -> "radic", "differentli" -> "differ", "vileli" -> "vile",
    "analogousli" -> "analog", "vietnamization" -> "vietnam",
    "predication" -> "predic", "operator" -> "oper", "feudalism" -> "feudal",
    "decisiveness" -> "decis", "hopefulness" -> "hope",
    "callousness" -> "callous", "formaliti" -> "formal",
    "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
    "triplicate" -> "triplic", "formative" -> "form", "formalize" -> "formal",
    // (paper lists these as step-3 examples; the full algorithm's step 4
    // then strips -ic since m("electr") > 1)
    "electriciti" -> "electr", "electrical" -> "electr",
    "hopeful" -> "hope", "goodness" -> "good",
    "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
    "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
    "adjustable" -> "adjust", "defensible" -> "defens", "irritant" -> "irrit",
    "replacement" -> "replac", "adjustment" -> "adjust",
    "dependent" -> "depend", "adoption" -> "adopt", "communism" -> "commun",
    "activate" -> "activ", "angulariti" -> "angular", "homologous" -> "homolog",
    "effective" -> "effect", "bowdlerize" -> "bowdler",
    "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
    "controll" -> "control", "roll" -> "roll"
  )

  test("porter vectors") {
    val bad = vectors.collect {
      case (in, want) if PorterStemmer.stem(in) != want =>
        s"$in -> ${PorterStemmer.stem(in)} (want $want)"
    }
    assert(bad.isEmpty, bad.mkString("; "))
  }
}

class AnalyzerSpec extends AnyFunSuite {
  test("normalize chain: lowercase -> strip -> stopword -> stem") {
    assert(Analyzer.normalize("Running!") === Some("run"))
    assert(Analyzer.normalize("the") === None)
    assert(Analyzer.normalize("UTF-8") === Some("utf8"))
    assert(Analyzer.normalize("") === None)
    assert(Analyzer.normalize("$$$") === None)
  }

  test("simple tokens") {
    assert(Analyzer.simpleTokens("Hello, World-42! ") === Seq("hello", "world", "42"))
    assert(Analyzer.simpleTokens("") === Seq())
  }

  test("simple query tokens are the index's tokens for non-ASCII letters") {
    import org.apache.spark.unsafe.types.UTF8String
    def indexTokens(s: String) = {
      val arr = graft.functions.AsciiTokens.tokenize(UTF8String.fromString(s))
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    // the Kelvin sign (U+212A) and a dotted capital I (U+0130): Java's
    // toLowerCase maps both into [a-z], the index's ASCII lowering does not
    for (s <- Seq("\u212Aelvin", "\u0130NDEX"))
      assert(Analyzer.simpleTokens(s) === indexTokens(s), s)
  }

  test("identifier splitting") {
    assert(Analyzer.splitIdentifier("parseHttpResponse") === Seq("parse", "Http", "Response"))
    assert(Analyzer.splitIdentifier("HTTPServer") === Seq("HTTP", "Server"))
    assert(Analyzer.splitIdentifier("snake_case_2x") === Seq("snake", "case", "2", "x"))
    assert(Analyzer.splitIdentifier("simple") === Seq("simple"))
  }

  test("code tokens keep whole identifier plus subtokens") {
    val toks = Analyzer.codeTokens("parseHttpResponse(x)")
    assert(toks.contains("parsehttprespons"))
    assert(toks.contains("pars"))
    assert(toks.contains("http"))
    assert(toks.contains("respons"))
    assert(toks.contains("x"))
  }

  test("per-lang dispatch drops the language's reserved words") {
    val src = "val totalCount = computeTotal(input) match { case x => x }"
    val scala = Analyzer.codeTokens(src, "scala")
    assert(!scala.contains("val") && !scala.contains("match") && !scala.contains("case"))
    assert(scala.contains("totalcount") && scala.contains("comput"))
    // same text under an unknown lang keeps the keywords
    val generic = Analyzer.codeTokens(src, "en")
    assert(generic.contains("val") && generic.contains("match"))
    // python has a different reserved set: 'val'/'match' survive, 'lambda' doesn't
    val py = Analyzer.codeTokens("val = lambda x: match_all(x)", "python")
    assert(py.contains("val") && !py.contains("lambda"))
    // keyword drop happens pre-stem on the cleaned token, like stopwords:
    // the literal keyword "return" is dropped, while "returns" survives the
    // drop and only then stems to "return" — exactly one token remains
    assert(Analyzer.codeTokens("return returns", "go") === Seq("return"))
  }
}
