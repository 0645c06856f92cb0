package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.ExclusionPipeline

/** E1 lifecycle end-to-end on scrape-shaped fixtures carrying every
  * FIXTURES.md §2 edge case.
  */
class ExclusionPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000)

  private def url(id: String) = s"https://example.test/Forms/ExclusionRequestItem/$id"

  // (id, page, url) — one fetched detail page per id
  private val detailPages = Seq(
    // the hidden input is tag 3 → Untitled3; Empty (empty value) and
    // the verification token (noise) are dropped
    "1" -> """<form>
      |  <input title="BIS232Request.Product" value="steel pipe"/>
      |  <input name="JSONData.Grade" value="X42"/>
      |  <input title="Empty" value=""/>
      |  <input type="hidden" value="untitled-value"/>
      |  <input title="__RequestVerificationToken" value="tok"/>
      |  <input title="Minimum Thickness" value="0.25"/>
      |</form>""".stripMargin,
    // HTSUSCode is overwritten by the summary
    "2" -> """<form>
      |  <input title="BIS232Request.Product" value="rebar"/>
      |  <input title="HTSUSCode" value="731815"/>
      |</form>""".stripMargin,
    // detail-only id
    "9" -> """<form><input title="BIS232Objection.Org" value="ACME"/></form>"""
  ).map { case (id, page) => (id, page, url(id)) }.toDF("id", "page", "url")

  private val summaries = Seq(
    ("1", "CoA", "722230", "1E1771", ts(100), 0L),
    ("2", "CoB", "731816", "42", ts(100), 1L),
    // second scrape of id=2, later ts → must win LWW
    ("2", "CoB2", "731817", "4.20", ts(200), 2L)
  ).toDF("id", "Company", "HTSUSCode", "Payload", "scrape_ts", "scrape_pos")

  private lazy val out = ExclusionPipeline.run(spark, summaries, detailPages,
    summaryCols = Seq("Company", "HTSUSCode", "Payload"),
    longCols = Seq("HTSUSCode"),
    doubleCols = Seq("Payload"))
    .orderBy("id").collect()

  test("one row per id, LWW keeps the later scrape") {
    assert(out.map(_.getString(0)).toSeq == Seq("1", "2", "9"))
    val r2 = out(1)
    assert(r2.getAs[String]("Company") == "CoB2")
    assert(r2.getAs[Long]("HTSUSCode") == 731817L)
  }

  test("summary overwrites detail on key collision (J1 semantics)") {
    val r2 = out(1)
    // detail said 731815, first summary 731816, final summary 731817
    assert(r2.getAs[Long]("HTSUSCode") == 731817L)
  }

  test("normalization: prefix strip + Untitled fallback + drops") {
    val f1 = out(0).getAs[Map[String, String]]("fields")
    assert(f1("Product") == "steel pipe")
    assert(f1("Grade") == "X42")
    assert(f1("Untitled3") == "untitled-value")
    assert(!f1.contains("Empty"))
    assert(!f1.contains("__RequestVerificationToken"))
    assert(f1("Minimum Thickness") == "0.25")
    assert(f1("URL") == url("1"))
  }

  test("typify: guard blocks 1E1771, float leg converts 4.20") {
    assert(out(0).isNullAt(out(0).fieldIndex("Payload"))) // 1E1771 guarded
    assert(out(1).getAs[Double]("Payload") == 4.2)
  }

  test("detail-only ids survive the left merge") {
    val r9 = out(2)
    assert(r9.getAs[String]("Company") == null)
    assert(r9.getAs[Map[String, String]]("fields")("Org") == "ACME")
  }

  // ── S2: raw page HTML → key/value rows (_read_page_inputs) ─────────

  private val pageHtml =
    """<html><body><div>outside form: <input title="Ignored" value="x"/></div>
      |<form method="post" action="/Forms/ExclusionRequestItem/1">
      |  <input type="text" title="BIS232Request.Product" value="steel pipe"/>
      |  <input name="JSONData.Grade" value="X42"/>
      |  <input type="hidden" value="untitled-value"/>
      |  <input title="Empty" value=""/>
      |  <input name="__RequestVerificationToken" value="tok123"/>
      |  <input title="Dup" value="first"/>
      |  <input title="Dup" value="second"/>
      |  <input title="NoValueAttr" type="checkbox"/>
      |  <input title='Single &amp; Quoted' value='a &lt;b&gt;'/>
      |  <textarea name="BIS232Objection.Comments">  some comment  </textarea>
      |  <textarea name="EmptyArea"></textarea>
      |  <textarea name="BlankArea">   </textarea>
      |  <textarea name="MultiLine">
      |    spans lines
      |  </textarea>
      |  <textarea name="NewlineOnly">
      |</textarea>
      |</form>
      |<form><input title="SecondForm" value="nope"/></form>
      |</body></html>""".stripMargin

  private lazy val parsed = {
    val pages = Seq(("1", pageHtml, "https://example.test/Forms/ExclusionRequestItem/1"))
      .toDF("id", "page", "url")
    ExclusionPipeline.parsePages(pages).collect()
      .map(r => r.getString(1) -> r.getString(2)).toMap
  }

  test("parsePages: only the first form is parsed; keys fall back title→name→Untitled") {
    assert(parsed("Product") == "steel pipe")      // title + marker strip
    assert(parsed("Grade") == "X42")               // name + marker strip
    assert(parsed("Untitled2") == "untitled-value") // no title/name, input idx 2
    assert(!parsed.contains("Ignored"))            // outside the form
    assert(!parsed.contains("SecondForm"))         // soup.form = FIRST form only
  }

  test("parsePages: empty values and the verification token are dropped") {
    assert(!parsed.contains("Empty"))
    assert(!parsed.contains("__RequestVerificationToken"))
    assert(!parsed.contains("BlankArea"))          // whitespace-only → stripped → dropped
  }

  test("parsePages: duplicate keys keep the LAST occurrence (dict build)") {
    assert(parsed("Dup") == "second")
  }

  test("parsePages: textarea inner text is the value, stripped like str.strip()") {
    assert(parsed("Comments") == "some comment")
    // Python strip removes newline/indent edges, not just spaces
    assert(parsed("MultiLine") == "spans lines")
    // a newline-only body strips to "" and is dropped (reference :158)
    assert(!parsed.contains("NewlineOnly"))
  }

  test("parsePages: pages without a form produce no rows (not even URL)") {
    val pages = Seq(
      ("7", "<html><body>Error 500</body></html>", "u7"),
      ("8", null.asInstanceOf[String], "u8"))
      .toDF("id", "page", "url")
    assert(ExclusionPipeline.parsePages(pages).count() == 0)
  }

  test("parsePages: missing value attr / empty textarea is str(None), like the reference") {
    assert(parsed("NoValueAttr") == "None")
    assert(parsed("EmptyArea") == "None")
  }

  test("parsePages: entities decode in keys and values; URL entry is added") {
    assert(parsed("Single & Quoted") == "a <b>")
    assert(parsed("URL") == "https://example.test/Forms/ExclusionRequestItem/1")
  }

  test("parsePages feeds detailsToDocuments end-to-end") {
    val pages = Seq(("1", pageHtml, "u1")).toDF("id", "page", "url")
    val docs = ExclusionPipeline.detailsToDocuments(
      ExclusionPipeline.parsePages(pages)).collect()
    assert(docs.length == 1)
    val fields = docs(0).getAs[Map[String, String]]("fields")
    assert(fields("Product") == "steel pipe" && fields("URL") == "u1")
  }

  // ── FormInputs grammar, row for row ───────────────────────────────

  private def rowsOf(pages: Seq[(String, String)]): Set[(String, String, String)] =
    ExclusionPipeline.parsePages(pages.map { case (id, p) => (id, p, s"U-$id") }
      .toDF("id", "page", "url"))
      .as[(String, String, String)].collect().toSet

  test("parsePages: non-ASCII text before the form keeps every pair " +
    "(the form span is found on the page itself, not on lower(page))") {
    // lower('İ') is two characters; positions found in the lowered
    // page would cut the original page eight characters late
    val page = "İ" * 8 + "<html><form><input title=\"K\" value=\"v\"/>" +
      "<textarea name=\"T\">t</textarea></form></html>"
    assert(rowsOf(Seq("1" -> page)) ==
      Set(("1", "K", "v"), ("1", "T", "t"), ("1", "URL", "U-1")))
  }

  test("parsePages: hand-checked rows for case, quoting, fallbacks, " +
    "entities, textareas and form boundaries") {
    val pages = Seq(
      "upper" -> ("<HTML><FORM ACTION=\"/x\"><INPUT TITLE=\"Upper\" VALUE=\"U1\"/>" +
        "<Input Name=\"Mixed\" Value='m'/><TEXTAREA NAME=\"Big\">  body  </TEXTAREA>" +
        "</FORM></HTML>"),
      "quote" -> ("<form><input title='Single' value='sv'/>" +
        "<input name='OnlyName' value=' x '/><input title=\"Mix\" value='it\"s'/></form>"),
      "fallback" -> ("<form><input title=\"\" name=\"BIS232Request.Fallback\" value=\"f\"/>" +
        "<input title=\"\" name=\"\" value=\"g\"/><input title=' ' value=\"h\"/></form>"),
      "entity" -> ("<form><input title=\"A &amp; B &lt;c&gt;\" " +
        "value=\"&quot;q&quot; &#39;s&#39; &amp;lt;\"/>" +
        "<textarea name=\"T&amp;A\">x &gt; y</textarea></form>"),
      "area" -> ("<form><input value=\"i0\"/>" +
        "<textarea name=\"Multi\">\n  line one\n  line two\n</textarea>" +
        "<textarea name=\"Empty\"></textarea><textarea name=\"Blank\">\n\t </textarea>" +
        "<textarea>anon</textarea></form>"),
      "unclosed" -> "<form><input title=\"Lost\" value=\"v\"/>",
      "nested" -> ("<form><input title=\"A\" value=\"1\"/>" +
        "<form><input title=\"B\" value=\"2\"/></form>"),
      "second" -> ("<form><input title=\"First\" value=\"1\"/></form>" +
        "<form><input title=\"Second\" value=\"2\"/></form>"),
      "null" -> null,
      "noform" -> "<html><body><input title=\"Outside\" value=\"o\"/></body></html>")
    val want = Set(
      ("upper", "Upper", "U1"), ("upper", "Mixed", "m"), ("upper", "Big", "body"),
      ("quote", "Single", "sv"), ("quote", "OnlyName", "x"), ("quote", "Mix", "it\"s"),
      // title="" is falsy (→ name, → Untitled<idx>); title=" " is not,
      // and keys are never trimmed
      ("fallback", "Fallback", "f"), ("fallback", "Untitled1", "g"),
      ("fallback", " ", "h"),
      ("entity", "A & B <c>", "\"q\" 's' &lt;"), ("entity", "T&A", "x > y"),
      // textareas count from 0 in their own list; an empty body is
      // str(None), a whitespace-only one strips to "" and is dropped
      ("area", "Untitled0", "i0"), ("area", "Multi", "line one\n  line two"),
      ("area", "Empty", "None"), ("area", "Untitled3", "anon"),
      // first <form up to the NEAREST </form>: the inner form's tags count
      ("nested", "A", "1"), ("nested", "B", "2"),
      ("second", "First", "1"))
    val urls = Seq("upper", "quote", "fallback", "entity", "area", "nested", "second")
      .map(id => (id, "URL", s"U-$id"))
    assert(rowsOf(pages) == want ++ urls)
  }

  test("parsePages: the URL entry overwrites a scraped URL key, and a " +
    "null url still gives the page its URL row") {
    val page = "<form><input title=\"URL\" value=\"scraped\"/>" +
      "<input title=\"K\" value=\"v\"/></form>"
    val pages = Seq(("1", page, "u1"), ("2", page, null.asInstanceOf[String]))
      .toDF("id", "page", "url")
    val got = ExclusionPipeline.parsePages(pages)
      .as[(String, String, String)].collect().toSet
    assert(got == Set(("1", "K", "v"), ("1", "URL", "u1"),
      ("2", "K", "v"), ("2", "URL", null)))
  }

  test("parsePages: two pages for one id fail the query instead of " +
    "merging silently") {
    val pages = Seq(
      ("1", "<form><input title=\"A\" value=\"a\"/></form>", "u1"),
      ("1", "<form><input title=\"B\" value=\"b\"/></form>", "u1b"),
      ("2", "<form><input title=\"A\" value=\"c\"/></form>", "u2"))
      .toDF("id", "page", "url")
    val e = intercept[Exception](ExclusionPipeline.parsePages(pages).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("more than one page for id 1")), e)
  }
}
