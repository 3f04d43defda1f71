package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Static implementations shared by the interpreted (`nullSafeEval`)
  * and generated (`doGenCode`) paths of [[NativeExpressions]].
  *
  * MUST stay a top-level object: Scala emits a mirror class
  * `graft.functions.NativeImpl` with *static forwarders* for a
  * top-level object, and Janino (Spark's whole-stage-codegen
  * compiler) can only resolve plain static calls. A nested object
  * (`NativeExpressions.PortableHashExpr.hash`) compiles to
  * `NativeExpressions$PortableHashExpr$.MODULE$.hash`, which Janino
  * cannot see — generated code then fails to compile and Spark
  * silently drops the whole stage to interpreted execution.
  */
object NativeImpl {

  /** Portable polynomial hash: fold (h*31 + codepoint) % 1000000007
    * over the code points of the string. Matches
    * [[GraftFunctions.portableHashHof]] and the DuckDB oracle.
    */
  def portableHash(s: UTF8String): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      h = (h * 31L + cp) % GraftFunctions.PhMod
      i += Character.charCount(cp)
    }
    h
  }

  /** Integer dot product of two long arrays over the common prefix
    * (matching zip_with semantics on unequal lengths).
    */
  def dotLong(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    acc
  }

  /** Sorted distinct portable-hash set of the word tokens of `s` in
    * ONE pass — the fusion of
    * array_sort(array_distinct(transform(tokens(s), portableHash))).
    * Tokenization is exactly [[GraftFunctions.tokens]]: lowercase
    * (UTF8String semantics, same as Spark's lower()), then maximal
    * runs of [a-z0-9]; any other char — including all non-ASCII — is
    * a separator, which is precisely what splitting on [^a-z0-9]+
    * does. Token chars are ASCII, so folding chars equals folding
    * code points and the per-token hash matches portableHash.
    */
  def tokenHashSet(s: UTF8String): ArrayData = {
    val str = s.toLowerCase.toString
    val set = new java.util.TreeSet[java.lang.Long]()
    var h = 0L
    var in = false
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        h = (h * 31L + c) % GraftFunctions.PhMod
        in = true
      } else if (in) { set.add(h); h = 0L; in = false }
      i += 1
    }
    if (in) set.add(h)
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** All k minhash signature values of a hash set in one pass — the
    * fusion of k× array_min(transform(hs, h -> (h*a_j + b_j) % p)).
    * Returns null for an empty set, matching array_min(empty) = null
    * per signature (callers treat a null signature vector as k nulls).
    */
  def minhashSigs(hs: ArrayData, k: Int): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val as = Array.tabulate(k)(GraftFunctions.minhashA)
    val bs = Array.tabulate(k)(GraftFunctions.minhashB)
    val sigs = new Array[Long](k)
    java.util.Arrays.fill(sigs, Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % GraftFunctions.MinhashPrime
        if (v < sigs(j)) sigs(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(sigs)
  }

  /** Intersection size of two SORTED long arrays (linear merge). */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  // ---- CDC envelope parsing ----

  private val jsonFactory = new com.fasterxml.jackson.core.JsonFactory()

  /** One-pass Jackson-streaming parse of the CDC JSON envelope into
    * the [[graft.parse.CdcParser.envelopeSchema]] struct. Semantics
    * mirror `from_json` in PERMISSIVE mode on the same schema exactly
    * but for one intended difference (equivalence-tested in
    * CdcParserSpec):
    *  - a SYNTAX error (or non-object input) => all-null row;
    *  - a wrong-TYPED field (or a non-integral ts/resolved element)
    *    nulls only that field — the rest of the row still parses
    *    (PERMISSIVE partial results);
    *  - trailing content after the first value is ignored;
    *  - absent fields are null; `{"update":null}` leaves update null;
    *  - map/array STRING values: raw text for JSON strings, the
    *    re-serialized token text for numbers/booleans, the compact
    *    re-serialized subtree for nested objects/arrays, null for
    *    JSON null — byte-for-byte what Spark's JacksonParser emits.
    * The difference: Step and TxId are uint64, so a ts/resolved
    * element in [2^63, 2^64) parses as the Long with the same bits,
    * where from_json overflows and nulls the field (the change is then
    * malformed, the heartbeat dropped).
    */
  def parseEnvelope(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    import com.fasterxml.jackson.core.{JsonParser, JsonToken}
    def stringValue(p: JsonParser): UTF8String = p.currentToken() match {
      case JsonToken.VALUE_NULL => null
      case JsonToken.VALUE_STRING => UTF8String.fromString(p.getText)
      case _ =>
        val out = new java.io.ByteArrayOutputStream()
        val gen = jsonFactory.createGenerator(out)
        try gen.copyCurrentStructure(p) finally gen.close()
        UTF8String.fromBytes(out.toByteArray)
    }
    // Each reader THROWS at the first type mismatch without consuming
    // further — like Spark's converters — so the field-level catch's
    // skipChildren does the skipping, and a nested syntax error during
    // that skip is fatal in exactly the same situations.
    def mismatch(): Nothing =
      throw new IllegalArgumentException("type mismatch")
    def readStringMap(p: JsonParser): org.apache.spark.sql.catalyst.util.MapData = {
      if (p.currentToken() != JsonToken.START_OBJECT) mismatch()
      val keys = new scala.collection.mutable.ArrayBuffer[Any](4)
      val vals = new scala.collection.mutable.ArrayBuffer[Any](4)
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        keys += UTF8String.fromString(p.currentName())
        p.nextToken()
        vals += stringValue(p)
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys.toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals.toArray))
    }
    def readStringArray(p: JsonParser): ArrayData = {
      if (p.currentToken() != JsonToken.START_ARRAY) mismatch()
      val elems = new scala.collection.mutable.ArrayBuffer[Any](4)
      while (p.nextToken() != JsonToken.END_ARRAY) elems += stringValue(p)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(elems.toArray)
    }
    // Position.ux orders the same bits as uint64; wider values overflow
    def uint64Bits(v: java.math.BigInteger): Long =
      if (v.signum >= 0 && v.bitLength <= 64) v.longValue else mismatch()
    def readLongArray(p: JsonParser): ArrayData = {
      if (p.currentToken() != JsonToken.START_ARRAY) mismatch()
      val elems = new scala.collection.mutable.ArrayBuffer[Any](2)
      while (p.nextToken() != JsonToken.END_ARRAY) {
        p.currentToken() match {
          case JsonToken.VALUE_NUMBER_INT =>
            elems += java.lang.Long.valueOf(
              if (p.getNumberType != JsonParser.NumberType.BIG_INTEGER)
                p.getLongValue
              else uint64Bits(p.getBigIntegerValue))
          case JsonToken.VALUE_NULL => elems += null
          case _ => mismatch()
        }
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(elems.toArray)
    }
    // from_json(PERMISSIVE) yields an ALL-NULL row (not a null
    // struct) for malformed input; isMalformed treats both alike but
    // equivalence is kept exact
    def malformedRow() =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(6)
    try {
      val p = jsonFactory.createParser(s.getBytes)
      try {
        val first = p.nextToken()
        // empty/whitespace-only input is the one case where from_json
        // returns a true NULL struct rather than an all-null row
        if (first == null) return null
        if (first != JsonToken.START_OBJECT) return malformedRow()
        // Structure mirrors Spark's JacksonParser.convertObject so the
        // recovery behavior matches token for token: the loop fires on
        // EVERY token until an END_OBJECT, dispatching by currentName
        // (after a mid-value error this re-enters the SAME field's
        // converter on the stumble-through tokens, exactly like
        // getFieldIndex(parser.currentName)); a failure inside a
        // schema field is caught + skipChildren (field → null, later
        // fields still parse = PERMISSIVE partial results); a failure
        // in the loop itself — tokenizer errors between fields, EOF
        // inside the object, unknown-field skips — is fatal (all-null
        // row).
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(6)
        var tok = p.nextToken()
        while (tok != null && tok != JsonToken.END_OBJECT) {
          val idx = p.currentName() match {
            case "update" => 0
            case "erase" => 1
            case "newImage" => 2
            case "key" => 3
            case "ts" => 4
            case "resolved" => 5
            case _ => -1
          }
          if (idx >= 0) {
            try {
              if (p.currentToken() == JsonToken.FIELD_NAME) p.nextToken()
              val v: Any =
                if (p.currentToken() == JsonToken.VALUE_NULL) null
                else idx match {
                  case 0 | 1 | 2 => readStringMap(p)
                  case 3 => readStringArray(p)
                  case _ => readLongArray(p)
                }
              row.update(idx, v)
            } catch {
              case scala.util.control.NonFatal(_) => p.skipChildren()
            }
          } else p.skipChildren()
          tok = p.nextToken()
        }
        // trailing content after the first value is IGNORED — from_json
        // parses the first JSON value only
        row
      } finally p.close()
    } catch { case _: Exception => malformedRow() }
  }

  /** Positional w-token window hashes of `s` in ONE pass: element i
    * (0-based) is the portable hash of the space-joined window of w
    * tokens starting at token i — EXACTLY
    * portableHash(array_join(slice(tokens(s), i+1, w), " ")), via the
    * polynomial composition hash(A ++ B) = hash(A)·31^len(B) + hash(B)
    * (mod P), so no window string is ever materialized: the text is
    * scanned once for per-token (hash, 31^len) pairs and each window
    * folds w token hashes with one separator step each. Empty array
    * when fewer than w tokens.
    */
  def windowHashes(s: UTF8String, w: Int): ArrayData = {
    val P = GraftFunctions.PhMod
    val str = s.toLowerCase.toString
    // pass 1: per-token (hash, 31^len mod P)
    val tokH = new java.util.ArrayList[java.lang.Long]()
    val tokPow = new java.util.ArrayList[java.lang.Long]()
    var h = 0L
    var pow = 1L
    var in = false
    var i = 0
    val n = str.length
    while (i < n) {
      val c = str.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        h = (h * 31L + c) % P
        pow = (pow * 31L) % P
        in = true
      } else if (in) {
        tokH.add(h); tokPow.add(pow)
        h = 0L; pow = 1L; in = false
      }
      i += 1
    }
    if (in) { tokH.add(h); tokPow.add(pow) }
    val nTok = tokH.size()
    val nWin = nTok - w + 1
    if (nWin <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Long](0))
    val out = new Array[Long](nWin)
    var s0 = 0
    while (s0 < nWin) {
      var wh = tokH.get(s0).longValue()
      var j = s0 + 1
      while (j < s0 + w) {
        wh = (wh * 31L + ' ') % P               // the separator char
        // both factors < P ~ 1e9 -> product < 1e18, no overflow
        wh = (wh * tokPow.get(j).longValue() + tokH.get(j).longValue()) % P
        j += 1
      }
      out(s0) = wh
      s0 += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Unicode normalization: mode 0 = NFC, 1 = NFKC, 2 = accent strip
    * (NFD, drop non-spacing combining marks, NFC re-compose — the
    * curation form that folds 'á'/'a'+U+0301 to plain 'a').
    *
    * Pure-ASCII input — the overwhelming hot path at corpus scale —
    * short-circuits on a byte scan and returns the input UNCOPIED:
    * ASCII is invariant under all three forms, so java.text.Normalizer
    * (and the UTF-16 round-trip it needs) runs only on rows that
    * actually carry non-ASCII bytes.
    */
  def normalizeText(s: UTF8String, mode: Int): UTF8String = {
    val bytes = s.getBytes
    var i = 0
    var ascii = true
    while (ascii && i < bytes.length) {
      if (bytes(i) < 0) ascii = false
      i += 1
    }
    if (ascii) return s
    val str = s.toString
    val out = mode match {
      case 0 => java.text.Normalizer.normalize(str,
        java.text.Normalizer.Form.NFC)
      case 1 => java.text.Normalizer.normalize(str,
        java.text.Normalizer.Form.NFKC)
      case _ =>
        val d = java.text.Normalizer.normalize(str,
          java.text.Normalizer.Form.NFD)
        val sb = new java.lang.StringBuilder(d.length)
        var j = 0
        while (j < d.length) {
          val c = d.charAt(j)
          if (Character.getType(c) != Character.NON_SPACING_MARK)
            sb.append(c)
          j += 1
        }
        java.text.Normalizer.normalize(sb.toString,
          java.text.Normalizer.Form.NFC)
    }
    UTF8String.fromString(out)
  }

  /** Greedy rank-order BPE segmentation of `word` under the merge
    * ranking `t` — the production-vocab apply (HF-tokenizers shape):
    * repeatedly find the adjacent symbol pair with the LOWEST merge
    * rank present in the word and merge ALL its left-to-right
    * non-overlapping occurrences, until no adjacent pair is in the
    * table. Per-word cost is O(len²) in the worst case and
    * INDEPENDENT of the merge-table size — the sequential
    * replace-fold is O(nMerges) expression depth and dies at a
    * production 32–50k vocabulary (Janino method limits, analyzer
    * time).
    *
    * Byte-equal to the replace fold for any TRAINED merge table
    * (property-pinned in BpeSpec): training creates a pair's
    * constituent symbols strictly before the pair, so merging rank r
    * only ever creates pairs of rank > r — processing present ranks
    * in increasing order therefore visits exactly the same merges, in
    * the same order, with the same left-to-right sweep, as folding
    * the full sequence.
    *
    * Returns the delimited symbol form `(s1)(s2)…` (same contract as
    * the fold, so `nSymbols` and every downstream consumer are
    * unchanged).
    */
  def bpeSegment(word: UTF8String, t: BpeTable): UTF8String = {
    val str = word.toString
    var syms = new java.util.ArrayList[String](str.length)
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      val cc = Character.charCount(cp)
      syms.add(str.substring(i, i + cc))
      i += cc
    }
    var merging = syms.size > 1
    while (merging) {
      var best = Int.MaxValue
      var j = 0
      while (j < syms.size - 1) {
        val r = t.rankOf(syms.get(j), syms.get(j + 1))
        if (r < best) best = r
        j += 1
      }
      if (best == Int.MaxValue) merging = false
      else {
        val a = t.a(best)
        val b = t.b(best)
        val out = new java.util.ArrayList[String](syms.size)
        var k = 0
        while (k < syms.size) {
          if (k + 1 < syms.size && syms.get(k) == a &&
              syms.get(k + 1) == b) {
            out.add(a + b); k += 2
          } else { out.add(syms.get(k)); k += 1 }
        }
        syms = out
        merging = syms.size > 1
      }
    }
    val sb = new java.lang.StringBuilder(str.length + 2 * syms.size)
    var m = 0
    while (m < syms.size) {
      sb.append('(').append(syms.get(m)).append(')')
      m += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** Immutable merge ranking for [[NativeImpl.bpeSegment]]: pair
  * `(a(r), b(r))` carries rank `r` (training order; on a duplicate
  * pair the FIRST rank wins, matching the fold where the earlier
  * merge consumes every occurrence). Serializable so the one table
  * rides the expression into tasks (a 50k-merge table is ~1 MB);
  * the rank map materializes lazily once per deserialized instance.
  * Top-level class so Janino can resolve it in generated code.
  */
final class BpeTable(val pairsA: Array[String], val pairsB: Array[String])
    extends Serializable {
  require(pairsA.length == pairsB.length, "ragged merge table")

  @transient private lazy val rank: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer](pairsA.length * 2)
    var i = 0
    while (i < pairsA.length) {
      val k = pairsA(i) + "\u0000" + pairsB(i)
      if (!m.containsKey(k)) m.put(k, Integer.valueOf(i))
      i += 1
    }
    m
  }

  def a(r: Int): String = pairsA(r)
  def b(r: Int): String = pairsB(r)
  def size: Int = pairsA.length

  def rankOf(x: String, y: String): Int = {
    val r = rank.get(x + "\u0000" + y)
    if (r == null) Int.MaxValue else r.intValue()
  }
}
