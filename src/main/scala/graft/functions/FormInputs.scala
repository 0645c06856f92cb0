package graft.functions

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** HTML form-input parsing (SURVEY §2.1 S2) — the reference's core
  * transform: a detail page's `<input>`/`<textarea>` tags → key/value
  * pairs (reference `clients/exclusion_requests.py:39-54,153-165`).
  *
  * `FormInputs(page)` is one codegen'd expression: it scans the page
  * once and returns `array<struct<ord:int,key:string,value:string>>`,
  * or null for a null page or one without a complete first form.
  * Faithfully reproduced semantics:
  *  - scope: the FIRST `<form` up to the nearest `</form>` after it
  *    (`soup.form`, :154), both matched ASCII-case-insensitively on
  *    the page itself;
  *  - tag order: all inputs (enumerated 0..n-1), then all textareas
  *    (enumerated 0..m-1 again — each list has its own index, :156-157);
  *    `ord` is the global position (inputs then textareas), so a
  *    later duplicate key has the larger `ord`;
  *  - key: `title` attr, else `name` attr (empty counts as absent —
  *    Python's `if not key`), else `"Untitled"+idx` (:40-44), then the
  *    four scrape markers removed anywhere in the key (:45-48);
  *    keys are NOT trimmed (the reference never strips keys);
  *  - value: the `value` attribute for inputs / the inner text for
  *    textareas, `str(value).strip()` (:49-53). Python quirk kept
  *    bug-compatible: a MISSING value attr (or empty textarea body)
  *    is `str(None)` = the literal string "None";
  *  - pairs whose value is empty after the strip are dropped (:158).
  *
  * Documented approximation vs BeautifulSoup: a tag is `<input` up to
  * the first `>`, a textarea is `<textarea…>` up to the first
  * `</textarea>`; an attribute is whitespace, the name
  * (case-insensitive), `=` and a quoted token in either quote style,
  * the first occurrence in the tag text winning. Only the five
  * standard HTML entities are decoded. So an attr-shaped sequence
  * INSIDE another attribute's quoted value (title="my name=x") or a
  * textarea body would match. That is correct for the portal's
  * machine-generated ASP.NET markup this grammar targets, not for
  * arbitrary hand-written HTML.
  *
  * Why a kernel and not Column expressions: the previous parse was a
  * chain of `lower`/`instr` for the form span, two
  * `regexp_extract_all` tag arrays and three `regexp_extract` calls
  * per tag over the posexploded tag rows, presented as "codegen'd
  * top-level projections". Catalyst pushes predicates through
  * projections by substituting alias definitions, so its optimized
  * plan copied the whole-form extraction into the Filters above the
  * explode and re-ran it per exploded tag row (for 200 benchmark
  * pages: 8 `regexp_extract_all`, 72 `lower` and 52 `regexp_extract`
  * calls in the plan). The kernel parses each page once; `parsePages`
  * over those 200 pages (noop write, local[2], median of 7) went from
  * 1,131 to 175 ms.
  */
case class FormInputs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"form_inputs expects STRING input, got ${child.dataType.sql}")

  override def dataType: DataType = FormInputs.pairsType
  override def nullable: Boolean = true
  override def prettyName: String = "form_inputs"

  override def nullSafeEval(input: Any): Any =
    FormInputs.parse(input.asInstanceOf[UTF8String])

  // called through MODULE$ — see WordShingles.doGenCode
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.FormInputs$$.MODULE$$.parse($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): FormInputs =
    copy(child = newChild)
}

object FormInputs {
  val pairsType: ArrayType = ArrayType(StructType(Seq(
    StructField("ord", IntegerType, nullable = false),
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false))), containsNull = false)

  /** Page HTML → parsed pairs, or null without a complete first form.
    * Shared by the interpreted and generated code paths.
    */
  def parse(page: UTF8String): ArrayData = {
    val s = page.toString
    val open = indexOfCI(s, "<form", 0)
    if (open < 0) return null
    val close = indexOfCI(s, "</form>", open)
    if (close < 0) return null
    val form = s.substring(open, close + "</form>".length)

    val out = ArrayBuffer.empty[Any]
    def emit(ord: Int, key: String, value: String): Unit =
      if (value.nonEmpty)
        out += new GenericInternalRow(Array[Any](ord,
          UTF8String.fromString(key), UTF8String.fromString(value)))

    var ord = 0
    var i = indexOfCI(form, "<input", 0)
    while (i >= 0) {
      val gt = form.indexOf('>', i + "<input".length)
      if (gt < 0) i = -1
      else {
        val tag = form.substring(i, gt + 1)
        val v = attr(tag, "value")
        emit(ord, keyOf(tag, ord), if (v == null) "None" else pyStrip(unescape(v)))
        ord += 1
        i = indexOfCI(form, "<input", gt + 1)
      }
    }
    val nInputs = ord
    i = indexOfCI(form, "<textarea", 0)
    while (i >= 0) {
      val gt = form.indexOf('>', i + "<textarea".length)
      val end = if (gt < 0) -1 else indexOfCI(form, "</textarea>", gt + 1)
      if (end < 0) i = -1
      else {
        val tagEnd = end + "</textarea>".length
        val inner = form.substring(gt + 1, end)
        // empty body ⇒ BeautifulSoup .string is None ⇒ str(None)
        emit(ord, keyOf(form.substring(i, tagEnd), ord - nInputs),
          if (inner.isEmpty) "None" else pyStrip(unescape(inner)))
        ord += 1
        i = indexOfCI(form, "<textarea", tagEnd)
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** title → name → Untitled<idx>, markers stripped (:40-48). */
  private def keyOf(tag: String, idx: Int): String = {
    val t = attr(tag, "title")
    val raw =
      if (t != null && t.nonEmpty) t
      else {
        val n = attr(tag, "name")
        if (n != null && n.nonEmpty) n else "Untitled" + idx
      }
    Scalars.markerList.foldLeft(unescape(raw))(_.replace(_, ""))
  }

  /** Whitespace as Java regex `\s` and Python's str.strip() see it
    * (the set Spark's trim() misses: \t\n\x0B\f\r as well as space).
    */
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Python str.strip(): a multi-line textarea body loses its newline
    * edges exactly like the reference.
    */
  private def pyStrip(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && isWs(s.charAt(a))) a += 1
    while (b > a && isWs(s.charAt(b - 1))) b -= 1
    s.substring(a, b)
  }

  /** The five standard entities, each a left-to-right replace-all, in
    * this order (so "&amp;lt;" decodes to "&lt;", not "<").
    */
  private val entities = Seq("&quot;" -> "\"", "&#39;" -> "'", "&lt;" -> "<",
    "&gt;" -> ">", "&amp;" -> "&")

  private def unescape(s: String): String =
    if (s.indexOf('&') < 0) s
    else entities.foldLeft(s) { case (acc, (ent, ch)) => acc.replace(ent, ch) }

  /** `pat` (lower-case ASCII) at `at`, ASCII letters case-insensitive —
    * what a `(?i)` Java regex matches without UNICODE_CASE.
    */
  private def matchesCI(s: String, at: Int, pat: String): Boolean = {
    if (at < 0 || at + pat.length > s.length) return false
    var k = 0
    while (k < pat.length) {
      val c = s.charAt(at + k)
      val p = pat.charAt(k)
      if (c != p && !(c >= 'A' && c <= 'Z' && (c + 32) == p)) return false
      k += 1
    }
    true
  }

  private def indexOfCI(s: String, pat: String, from: Int): Int = {
    var i = from
    val last = s.length - pat.length
    while (i <= last) {
      if (matchesCI(s, i, pat)) return i
      i += 1
    }
    -1
  }

  /** Value of the first `<ws>name<ws>*=<ws>*` followed by a quoted
    * token ("…" or '…') in the tag text, quotes removed; null when
    * there is none.
    */
  private def attr(tag: String, name: String): String = {
    val n = tag.length
    var i = 0
    while (i < n) {
      if (isWs(tag.charAt(i)) && matchesCI(tag, i + 1, name)) {
        var j = i + 1 + name.length
        while (j < n && isWs(tag.charAt(j))) j += 1
        if (j < n && tag.charAt(j) == '=') {
          j += 1
          while (j < n && isWs(tag.charAt(j))) j += 1
          if (j < n && (tag.charAt(j) == '"' || tag.charAt(j) == '\'')) {
            val close = tag.indexOf(tag.charAt(j), j + 1)
            if (close >= 0) return tag.substring(j + 1, close)
          }
        }
      }
      i += 1
    }
    null
  }

  /** Column↔Expression bridge (Spark 4 classic API via GraftColumnBridge). */
  def apply(page: Column): Column =
    GraftColumnBridge.column(FormInputs(GraftColumnBridge.expression(page)))
}
