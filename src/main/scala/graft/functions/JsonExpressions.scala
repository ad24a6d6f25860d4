package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Fast top-level JSON attribute extraction.
  *
  * The engine's secondary-index mechanism is a JSON key lookup on the
  * payload (reference: `"i"+name+":"+value` index keys, space.go:123-143
  * — the payload attr IS the index). The built-in `get_json_object` is
  * a CodegenFallback that builds a Jackson parser per row per call; in
  * index-scan/tails plans that parse dominates the scan at scale. This
  * is the same situation as [[VecDot]]: a narrow, hot operation whose
  * general built-in is interpreted — so it gets the same treatment, a
  * native expression with a tight byte-scan fast path.
  *
  * Semantics match `get_json_object(json, '$.key')` for top-level keys:
  * scalar values return their text (strings unquoted), `null`/missing
  * keys return SQL NULL, nested object/array values and escaped strings
  * take the Jackson slow path which reproduces the built-in's output
  * exactly. The fast path is a single pass over the UTF-8 bytes with
  * string/escape/depth awareness — no allocation until the result
  * slice.
  */
object JsonFast {

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r'

  /** Byte-range slice (UTF8String.substring is code-point-indexed; the
    * scanner tracks byte offsets — safe because every delimiter we
    * split on is single-byte ASCII, so slices always fall on UTF-8
    * boundaries).
    */
  private def slice(s: UTF8String, from: Int, until: Int): UTF8String = {
    // copy ONLY the slice: fromBytes(getBytes, from, len) would retain
    // the whole payload-sized array for the result's lifetime
    UTF8String.fromBytes(java.util.Arrays.copyOfRange(s.getBytes, from, until))
  }

  private def bytesMatch(s: UTF8String, from: Int, key: UTF8String): Boolean = {
    val k = key.numBytes
    var i = 0
    while (i < k) {
      if (s.getByte(from + i) != key.getByte(i)) return false
      i += 1
    }
    true
  }

  /** get_json_object-compatible `$.key` extraction; null when absent. */
  def attr(json: UTF8String, key: UTF8String): UTF8String = {
    if (json == null || key == null) return null
    val n = json.numBytes
    var i = 0
    while (i < n && isWs(json.getByte(i))) i += 1
    if (i >= n || json.getByte(i) != '{') return null
    i += 1
    var expectKey = true
    // record the first match but keep scanning until the object closes:
    // the built-in only yields a value when the document parses cleanly
    // (a truncated tail returns null), so early return would diverge
    var found = false
    var result: UTF8String = null
    var anyField = false
    while (i < n) {
      while (i < n && isWs(json.getByte(i))) i += 1
      if (i >= n) return null
      val c = json.getByte(i)
      if (c == '}') {
        // `{"a":1,}` — trailing comma: let Jackson judge the document
        if (expectKey && anyField) return fallback(json, key)
        return (if (found) result else null)
      }
      else if (c == ',') { i += 1; expectKey = true }
      else if (!expectKey) return fallback(json, key) // malformed: two values in a row
      else {
        if (c != '"') return fallback(json, key)
        // --- key string ---
        val ks = i + 1
        var ke = ks
        var keyEsc = false
        var closed = false
        while (ke < n && !closed) {
          val b = json.getByte(ke)
          if (b == '\\') { keyEsc = true; ke += 2 }
          else if (b == '"') closed = true
          else ke += 1
        }
        if (!closed) return null
        // a key containing escapes needs unescaping before comparison —
        // Jackson territory (e.g. {"id": …} matches key "id")
        if (keyEsc) return fallback(json, key)
        val isMatch = (ke - ks == key.numBytes) && bytesMatch(json, ks, key)
        i = ke + 1
        while (i < n && isWs(json.getByte(i))) i += 1
        if (i >= n || json.getByte(i) != ':') return fallback(json, key)
        i += 1
        while (i < n && isWs(json.getByte(i))) i += 1
        if (i >= n) return null
        // --- value ---
        val vb = json.getByte(i)
        if (vb == '"') {
          val vs = i + 1
          var ve = vs
          var esc = false
          var hasEsc = false
          var vClosed = false
          while (ve < n && !vClosed) {
            val b = json.getByte(ve)
            if (esc) { esc = false; ve += 1 }
            else if (b == '\\') { esc = true; hasEsc = true; ve += 1 }
            else if (b == '"') vClosed = true
            else ve += 1
          }
          if (!vClosed) return null
          if (isMatch && !found) {
            if (hasEsc) return fallback(json, key) // needs unescaping
            found = true
            result = slice(json, vs, ve)
          }
          i = ve + 1
        } else if (vb == '{' || vb == '[') {
          if (isMatch && !found) return fallback(json, key) // built-in re-serializes nested values
          var depth = 0
          var inStr = false
          var esc = false
          var end = -1
          var j = i
          while (j < n && end < 0) {
            val b = json.getByte(j)
            if (inStr) {
              if (esc) esc = false
              else if (b == '\\') esc = true
              else if (b == '"') inStr = false
            } else {
              if (b == '"') inStr = true
              else if (b == '{' || b == '[') depth += 1
              else if (b == '}' || b == ']') { depth -= 1; if (depth == 0) end = j }
            }
            j += 1
          }
          if (end < 0) return null
          i = end + 1
        } else {
          // number / true / false / null literal
          var ve = i
          while (ve < n && {
            val b = json.getByte(ve); b != ',' && b != '}' && b != ']' && !isWs(b)
          }) ve += 1
          if (isMatch && !found) {
            val isNull = ve - i == 4 && json.getByte(i) == 'n' && json.getByte(i + 1) == 'u' &&
              json.getByte(i + 2) == 'l' && json.getByte(i + 3) == 'l'
            // the built-in re-renders non-integer numbers through a
            // double (1e2 → 100.0), and rejects leading zeros; only
            // plain integer tokens and true/false are safe to slice raw
            var j = i
            var plainInt = true
            if (j < ve && json.getByte(j) == '-') j += 1
            val digits0 = j
            while (j < ve && plainInt) {
              val b = json.getByte(j)
              if (b < '0' || b > '9') plainInt = false else j += 1
            }
            val rawSafeInt = plainInt && j > digits0 &&
              !(json.getByte(digits0) == '0' && j - digits0 > 1)
            val t = ve - i
            val isBool =
              (t == 4 && json.getByte(i) == 't' && json.getByte(i + 1) == 'r' &&
                json.getByte(i + 2) == 'u' && json.getByte(i + 3) == 'e') ||
              (t == 5 && json.getByte(i) == 'f' && json.getByte(i + 1) == 'a' &&
                json.getByte(i + 2) == 'l' && json.getByte(i + 3) == 's' && json.getByte(i + 4) == 'e')
            // a JSON null writes no output in the built-in, so a LATER
            // duplicate key may still match — do not latch `found`
            if (isNull) { /* keep scanning */ }
            else if (rawSafeInt || isBool) { found = true; result = slice(json, i, ve) }
            else return fallback(json, key)
          }
          i = ve
        }
        expectKey = false
        anyField = true
      }
    }
    null
  }

  /** Jackson slow path for the cases the scanner defers: escaped
    * strings (unescape) and nested values (re-serialize) — the same
    * handling as the built-in, so outputs are identical. Malformed
    * JSON returns null, as get_json_object does.
    */
  private def fallback(json: UTF8String, key: UTF8String): UTF8String = {
    import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
    val want = key.toString
    val factory = new JsonFactory()
    val parser = factory.createParser(json.toString)
    try {
      if (parser.nextToken() != JsonToken.START_OBJECT) return null
      var result: UTF8String = null
      var found = false
      var tok = parser.nextToken()
      // capture the first match but keep parsing to END_OBJECT: a
      // document that fails to parse after the match must yield null,
      // exactly like the fast scanner (and the built-in on truncation)
      while (tok == JsonToken.FIELD_NAME) {
        val name = parser.currentName()
        val v = parser.nextToken()
        if (name == want && !found && v != JsonToken.VALUE_NULL) {
          // (a VALUE_NULL match writes no output — later duplicates may
          // still match, mirroring the built-in)
          found = true
          result = v match {
            case JsonToken.VALUE_STRING => // built-in writes leaf strings raw (unquoted)
              UTF8String.fromString(parser.getText)
            case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
              val sw = new java.io.StringWriter()
              val gen = factory.createGenerator(sw)
              gen.copyCurrentStructure(parser)
              gen.close()
              UTF8String.fromString(sw.toString)
            case _ => // numbers/bools: re-render exactly as the built-in does
              val sw = new java.io.StringWriter()
              val gen = factory.createGenerator(sw)
              gen.copyCurrentEvent(parser)
              gen.close()
              UTF8String.fromString(sw.toString)
          }
        } else if (v == JsonToken.START_OBJECT || v == JsonToken.START_ARRAY) {
          parser.skipChildren()
        }
        tok = parser.nextToken()
      }
      if (tok != JsonToken.END_OBJECT) return null
      result
    } catch {
      case _: Exception => null
    } finally parser.close()
  }
}

/** `json_attr(json, key)` — [[JsonFast.attr]] as a codegen expression. */
case class JsonAttr(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"json_attr requires two string arguments, got $l and $r")
  }

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "json_attr"

  override protected def nullSafeEval(json: Any, key: Any): Any =
    JsonFast.attr(json.asInstanceOf[UTF8String], key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (json, key) => {
      s"""
         |${ev.value} = graft.functions.JsonFast.attr($json, $key);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JsonAttr =
    copy(left = newLeft, right = newRight)
}

object JsonFunctions {

  /** Register `json_attr` on the session unless it is there already. */
  def register(spark: SparkSession): Unit =
    Registration.ifAbsent(spark, "json_attr")(exprs => JsonAttr(exprs.head, exprs(1)))
}
