package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ASCII-only lowercase (`graft_ascii_lower`).
  *
  * Why not built-in `lower()`: Spark 4's collation-aware `Lower` routes
  * through ICU (`CollationSupport.Lower.execBinaryICU`), whose shared
  * case-mapping machinery serializes under many executor threads — thread
  * dumps during the index build showed most worker samples inside it. The
  * analyzer chain only distinguishes `[A-Za-z0-9]` (reference
  * `Utils/Utils.java:14` strips everything else), so byte-level ASCII
  * lowering is semantically sufficient, UTF-8-safe (multi-byte sequences
  * have the high bit set and are untouched), contention-free, and
  * whole-stage-codegen friendly.
  */
object AsciiLower {
  /** Static helper invoked from generated code. */
  def lower(s: UTF8String): UTF8String = {
    val src = s.getBytes
    var i = 0
    var changed = false
    while (i < src.length && !changed) {
      val b = src(i)
      changed = b >= 'A' && b <= 'Z'
      i += 1
    }
    if (!changed) return s
    val out = java.util.Arrays.copyOf(src, src.length)
    i -= 1
    while (i < out.length) {
      val b = out(i)
      if (b >= 'A' && b <= 'Z') out(i) = (b | 0x20).toByte
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Query-side mirror of [[lower]] for JVM Strings. Phrase/prefix literals
    * are compared against `asciiLower(content)`, so they must be normalized
    * with the SAME ASCII-only transform: Java `toLowerCase` maps some
    * non-ASCII uppercase chars into [a-z] (Kelvin sign K→k, İ→i̇) and such a
    * phrase could never match the ASCII-lowered content. */
  def lowerString(s: String): String = {
    var i = 0
    var changed = false
    while (i < s.length && !changed) {
      val c = s.charAt(i)
      changed = c >= 'A' && c <= 'Z'
      i += 1
    }
    if (!changed) return s
    val out = s.toCharArray
    i -= 1
    while (i < out.length) {
      val c = out(i)
      if (c >= 'A' && c <= 'Z') out(i) = (c + 32).toChar
      i += 1
    }
    new String(out)
  }
}

/** Byte-level ASCII tokenizer (`graft_tokens`): emits the
  * maximal `[A-Za-z0-9]+` runs of the input, lowercased — exactly
  * `filter(split(ascii_lower(s), "[^a-z0-9]+"), _ != "")` but with ONE
  * right-sized byte[] per token instead of java.util.regex + String churn.
  * At 32 executor threads the regex/String path allocates faster than the
  * collector can evacuate (observed 10-30× task-CPU inflation + 100s+ GC per
  * stage); this keeps the tokenize stage allocation-minimal. Multi-byte
  * UTF-8 sequences have the high bit set → treated as separators, same as
  * the regex. */
object AsciiTokens {
  val schema: DataType = ArrayType(StringType, containsNull = false)

  @inline private def isAlnum(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') || (b >= '0' && b <= '9')

  /** Static helper invoked from generated code. */
  def tokenize(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val bytes = s.getBytes
    val out = new java.util.ArrayList[AnyRef](bytes.length / 6 + 4)
    var i = 0
    while (i < bytes.length) {
      if (isAlnum(bytes(i))) {
        val start = i
        while (i < bytes.length && isAlnum(bytes(i))) i += 1
        val tok = new Array[Byte](i - start)
        var j = 0
        while (j < tok.length) {
          val b = bytes(start + j)
          tok(j) = if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b
          j += 1
        }
        out.add(UTF8String.fromBytes(tok))
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }
}

/** Case-insensitive-ASCII substring test (`graft_ascii_contains`):
  * `containsLower(content, needle)` ⇔
  * `contains(asciiLower(content), asciiLower(needle))`, without materializing
  * the lowered copy of `content`. ASCII lowering is a per-byte map (multi-byte
  * UTF-8 sequences have the high bit set and are untouched), so a byte-wise
  * search that folds [A-Z] on the fly is exactly the search over the lowered
  * string — the phrase-verify corpus scan goes from
  * allocate-lowered-copy + memchr to a zero-allocation scan per row. */
object AsciiContains {
  @inline private def low(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b | 0x20).toByte else b

  /** True iff asciiLower(haystack) contains asciiLower(needle). Static helper
    * invoked from generated code. */
  def containsLower(haystack: UTF8String, needle: UTF8String): Boolean = {
    val h = haystack.getBytes
    val n = needle.getBytes
    if (n.length == 0) return true
    if (n.length > h.length) return false
    val first = low(n(0))
    val last = h.length - n.length
    var i = 0
    while (i <= last) {
      if (low(h(i)) == first) {
        var j = 1
        while (j < n.length && low(h(i + j)) == low(n(j))) j += 1
        if (j == n.length) return true
      }
      i += 1
    }
    false
  }
}

/** Session registration for graft's native functions (public registry API —
  * no private Spark internals).
  *
  * Every function is Spark's own `StaticInvoke` over a static helper of one
  * of this package's objects, the wrapper Spark's built-ins use to call
  * static code: it stays inside whole-stage codegen (the generated code
  * calls the object's static forwarder, e.g.
  * `graft.functions.DecodePostings.decode`) and the plan prints
  * `static_invoke(graft.functions.X.helper(...))`. A null argument gives a
  * null result without calling the helper; only the helpers that can
  * themselves return null are declared `returnNullable`.
  */
object GraftFunctions {
  val AsciiLowerName = "graft_ascii_lower"
  val AsciiTokensName = "graft_tokens"
  val AsciiContainsName = "graft_ascii_contains"
  val CompactTokensName = "graft_compact_tokens"
  val DecodePostingsName = "graft_decode_postings"
  val DecodeDocPositionsName = "graft_decode_doc_positions"
  val DecodeBlocksName = "graft_decode_blocks"
  val CosineSimName = "graft_cosine"
  val SignBucketName = "graft_sign_bucket"
  val MinHashSigsName = "graft_minhash_sigs"
  val SimHashName = "graft_simhash"
  val FingerprintName = "graft_fingerprint"

  /** Define every Graft function on `spark`'s session, skipping the names
    * it already has: engines and posting builders call this on every
    * construction, and a replace would rewrite the registry under serving
    * threads that are resolving these names. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    def define(name: String, obj: AnyRef, helper: String, dataType: DataType,
               returnNullable: Boolean = false): Unit =
      if (!registry.functionExists(FunctionIdentifier(name)))
        registry.createOrReplaceTempFunction(name, exprs => StaticInvoke(
          obj.getClass, dataType, helper, exprs,
          returnNullable = returnNullable), "built-in")
    define(AsciiContainsName, AsciiContains, "containsLower", BooleanType)
    define(CosineSimName, CosineSim, "cosine", DoubleType, returnNullable = true)
    define(SignBucketName, SignBucket, "bucket", LongType)
    define(MinHashSigsName, MinHashSigs, "sigs", MinHashSigs.schema,
      returnNullable = true)
    define(SimHashName, SimHashVal, "simhash", SimHashVal.schema,
      returnNullable = true)
    define(FingerprintName, FingerprintMin, "fingerprint", StringType)
    define(AsciiLowerName, AsciiLower, "lower", StringType)
    define(AsciiTokensName, AsciiTokens, "tokenize", AsciiTokens.schema)
    define(CompactTokensName, CompactTokens, "compact", CompactTokens.schema)
    define(DecodePostingsName, DecodePostings, "decode", DecodePostings.schema)
    define(DecodeDocPositionsName, DecodeDocPositions, "decode",
      DecodeDocPositions.schema)
    define(DecodeBlocksName, DecodePostingsBlocks, "decode", DecodePostings.schema)
  }

  /** `ascii_lower(c)` — caller must have [[register]]ed on the session that
    * will analyze the plan. */
  def asciiLower(c: Column): Column = call_function(AsciiLowerName, c)

  /** `graft_tokens(c)`: lowercased `[a-z0-9]+` token array. */
  def asciiTokens(c: Column): Column = call_function(AsciiTokensName, c)

  /** `graft_ascii_contains(h, n)` ⇔ contains(asciiLower(h), asciiLower(n))
    * with no lowered-copy allocation. */
  def asciiContains(h: Column, n: Column): Column =
    call_function(AsciiContainsName, h, n)

  /** `graft_cosine(a, b)`: fused cosine over float arrays —
    * bit-identical to the aggregate/zip_with HOF formulation. */
  def cosineSim(a: Column, b: Column): Column =
    call_function(CosineSimName, a, b)

  /** `graft_sign_bucket(v, nBits)`: sign-LSH bucket, bit d = (v[d] > 0). */
  def signBucket(v: Column, nBits: Int): Column =
    call_function(SignBucketName, v, org.apache.spark.sql.functions.lit(nBits))

  /** `graft_minhash_sigs(words, n)`: per-doc MinHash signature array (null
    * when < 3 words). */
  def minhashSigs(words: Column, nHashes: Int): Column =
    call_function(MinHashSigsName, words,
      org.apache.spark.sql.functions.lit(nHashes))

  /** `graft_simhash(words)`: per-doc 32-bit SimHash (null when no tokens). */
  def simhashVal(words: Column): Column = call_function(SimHashName, words)

  /** `graft_fingerprint(text)`: min-md5 rolling 8-char-window fingerprint. */
  def fingerprintMin(text: Column): Column =
    call_function(FingerprintName, text)

  /** `graft_compact_tokens(c)`: fused tokenize + per-doc posting compaction
    * → array<struct<term, tf, len, pos>> (see [[CompactTokens]]). */
  def compactTokens(c: Column): Column = call_function(CompactTokensName, c)

  /** `graft_decode_postings(c)`: var-byte chunk → array<struct<doc_id,tf,len>>. */
  def decodePostings(c: Column): Column = call_function(DecodePostingsName, c)

  /** `graft_decode_doc_positions(postings, positions)`: posting-granular
    * rows array<struct<doc_id, ps: array<int>>> (see DecodeDocPositions). */
  def decodeDocPositions(postings: Column, positions: Column): Column =
    call_function(DecodeDocPositionsName, postings, positions)

  /** `graft_decode_blocks(postings, blocks, lo, hi, minw)`: block-selective
    * decode — only blocks intersecting [lo, hi] with max_weight ≥ minw. */
  def decodeBlocks(postings: Column, blocks: Column, lo: Column, hi: Column,
                   minw: Column): Column =
    call_function(DecodeBlocksName, postings, blocks, lo, hi, minw)
}
