package graftbench

import scala.collection.mutable

/** Seeded generator for the `etl_load` inputs and, computed without
  * the engine, the state a correct load must leave behind.
  *
  * Every load `k` draws `perLoad` distinct keys from a bounded key
  * space with a power-law skew, so after a few loads most records are
  * updates of keys already in the state. A record version is a pure
  * function of (seed, key, load): its summary row as the DataTables
  * portal serves it, its detail page in the portal's form markup, and
  * the document the reference semantics make of the two.
  *
  * `pageSize` is the DataTables `length` the reference sends by default
  * and the engine's own default (1000). The key space, records per
  * load and skew are assumptions, not measurements of the portal: a
  * load is small enough that a run holds several of them, and the
  * key space and skew make most records of a warm load updates.
  */
final case class EtlParams(keySpace: Int = 2000, perLoad: Int = 200,
  pageSize: Int = 1000, skew: Double = 0.9)

/** One record version. `summary` is aligned with [[EtlModel.wireCols]]
  * (null = the portal sends JSON null); `item` is the expected KV item
  * without its `fields` attribute, whose expected content is `fields`.
  */
final case class Version(id: String, load: Int, pos: Int,
  summary: Seq[String], url: String, page: String,
  fields: Map[String, String], item: Map[String, String])

final class EtlModel(val seed: Long, val p: EtlParams) {
  import EtlModel._

  def keyId(i: Int): String = f"ERC-$i%05d"

  private def mix(a: Long, b: Long, c: Long): Long = {
    var h = a * 0x9E3779B97F4A7C15L ^ b * 0xC2B2AE3D27D4EB4FL ^ c * 0x165667B19E3779F9L
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    h
  }

  /** The keys of load k, in portal order: a weighted sample without
    * replacement (Efraimidis–Spirakis) with weight 1/(rank+1)^skew.
    */
  def keysOf(load: Int): Seq[Int] = {
    val rnd = new java.util.SplittableRandom(mix(seed, load.toLong, 17L))
    (0 until p.keySpace).map { i =>
      val w = 1.0 / math.pow(i + 1.0, p.skew)
      (i, math.log(rnd.nextDouble() + 1e-300) / w)
    }.sortBy(-_._2).take(p.perLoad).map(_._1)
  }

  def loadOf(load: Int): Seq[Version] =
    keysOf(load).zipWithIndex.map { case (k, pos) => version(k, load, pos) }

  def version(key: Int, load: Int, pos: Int): Version = {
    val r = new java.util.SplittableRandom(mix(seed, key.toLong, load.toLong + 1000003L))
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val id = keyId(key)
    val url = s"https://portal.example/Forms/Item/$id"
    val region = s"R${key % 6}"

    // summary row: raw strings as served, and what typify makes of them
    val company = if (r.nextInt(10) == 0) null else s"Co${r.nextInt(40)}"
    val hts = s"72${r.nextInt(10)}${r.nextInt(10)}.${r.nextInt(100)}"
    val status = if (r.nextInt(8) == 0) null else pick(Seq("GRANTED", "PENDING", "DENIED"))
    val n = r.nextInt(5000)
    val (qty, qtyTyped) = r.nextInt(9) match {
      case 0 => (s" $n ", Some(n.toString))
      case 1 => (s"-$n", Some((-n).toString))
      case 2 => (s"00$n", Some(n.toString))
      case 3 => (s"$n,000", None)
      case 4 => (s"$n.5", None)
      case 5 => ("n/a", None)
      case 6 => ("", None)
      case 7 => (null, None)
      case _ => (n.toString, Some(n.toString))
    }
    val cents = r.nextInt(100)
    val (price, priceTyped) = r.nextInt(8) match {
      case 0 => (s"$n", Some(n.toDouble.toString))
      case 1 => (f".$cents%02d", Some(f"0.$cents%02d".toDouble.toString))
      case 2 => (s"${n}e2", None)
      case 3 => ("free", None)
      case 4 => (null, None)
      case 5 => (s" $n. ", Some(n.toDouble.toString))
      case _ => (f"$n.$cents%02d", Some(f"$n.$cents%02d".toDouble.toString))
    }
    val summary = Seq(id, region, pos.toString, company, hts, status, qty, price)

    // detail page: the portal's form, plus a second form the parser
    // must ignore
    val token = s"tok-${r.nextInt(1000000)}"
    val dCompany = s"Detail Co ${r.nextInt(90)}"
    val products = (0 until 1 + r.nextInt(4)).map(i => s"\"P-${r.nextInt(999)}-$i\"")
      .mkString("[", ",", "]")
    val withProducts = r.nextInt(10) < 7
    val note = s"note ${r.nextInt(1000)}"
    val weight = s"${r.nextInt(200)}.${r.nextInt(10)}kg"
    val remarkHasValue = r.nextInt(3) == 0
    val remark = s"remark ${r.nextInt(50)}"
    val just = s"line ${r.nextInt(77)} & more <b>"
    val inputs = mutable.ArrayBuffer[(Option[String], Option[String], Option[String])]()
    // (title, name, value)
    inputs += ((None, Some("__RequestVerificationToken"), Some(token)))
    inputs += ((Some("BIS232Request.Company"), None, Some(dCompany)))
    inputs += ((Some("BIS232Request.PublicStatus"), None, Some("UNDER REVIEW")))
    if (withProducts) inputs += ((None, Some("JSONData.Products"), Some(products)))
    inputs += ((None, None, Some(s"  $note  ")))
    inputs += ((Some("BIS232Request.Empty"), None, Some("")))
    inputs += ((Some("BIS232Objection.Remark"), None, if (remarkHasValue) Some(remark) else None))
    inputs += ((Some("JSONData.Dup"), None, Some("first")))
    inputs += ((Some(""), Some("BIS232Request.Weight"), Some(s" $weight ")))
    inputs += ((Some("JSONData.Dup"), None, Some(s"second-$load")))
    val textareas = Seq[(Option[String], String)](
      (Some("BIS232Request.Justification"), s"\n  $just\n  "),
      (Some("Empty"), ""),
      (None, s"[${r.nextInt(9)}, ${r.nextInt(9)}]"))

    val html = new StringBuilder
    html.append("<html><head><title>Item</title></head><body><div class=\"hdr\">Exclusion request</div>")
    html.append(s"""<form action="/Forms/Item/$id" method="post">""")
    inputs.foreach { case (t, nm, v) =>
      html.append("<input type=\"text\"")
      t.foreach(x => html.append(s""" title="${esc(x)}""""))
      nm.foreach(x => html.append(s""" name="${esc(x)}""""))
      v.foreach(x => html.append(s""" value="${esc(x)}""""))
      html.append(" />")
    }
    textareas.foreach { case (nm, body) =>
      html.append("<textarea")
      nm.foreach(x => html.append(s""" name="${esc(x)}""""))
      html.append(">").append(esc(body)).append("</textarea>")
    }
    html.append("</form><form action=\"/search\"><input title=\"Other\" value=\"x\" /></form></body></html>")

    // the document the reference makes of the page: first form only,
    // key = title, else name, else Untitled<index in its own list>,
    // markers removed; value stripped, a missing value is "None";
    // empty values dropped; the last occurrence of a key wins; the
    // token dropped; URL added
    val fields = mutable.LinkedHashMap[String, String]()
    def put(k: String, v: String): Unit = if (v.nonEmpty) fields(k) = v
    inputs.zipWithIndex.foreach { case ((t, nm, v), i) =>
      val raw = t.filter(_.nonEmpty).orElse(nm.filter(_.nonEmpty)).getOrElse(s"Untitled$i")
      put(stripMarkers(raw), v.map(pyStrip).getOrElse("None"))
    }
    textareas.zipWithIndex.foreach { case ((nm, body), i) =>
      val raw = nm.filter(_.nonEmpty).getOrElse(s"Untitled$i")
      put(stripMarkers(raw), if (body.isEmpty) "None" else pyStrip(body))
    }
    fields -= "__RequestVerificationToken"
    fields("URL") = url

    // summary columns win over the page unconditionally (a null
    // summary value stays null); typify the numeric columns
    val typed: Seq[(String, Option[String])] = Seq(
      "id" -> Some(id), "Region" -> Some(region),
      "Company" -> Option(company), "HTSUSCode" -> Some(hts),
      "PublicStatus" -> Option(status), "Quantity" -> qtyTyped,
      "UnitPrice" -> priceTyped, "scrape_ts" -> Some(load.toString),
      "scrape_pos" -> Some(pos.toString))
    val item = typed.collect { case (k, Some(v)) => k -> v }.toMap + ("ID" -> id)
    Version(id, load, pos, summary, url, html.toString, fields.toMap, item)
  }

  /** Newest version of every key after loads 0 until `loads`. */
  def expectedState(loads: Int): Map[String, Version] = {
    val m = mutable.HashMap[String, Version]()
    (0 until loads).foreach(l => loadOf(l).foreach(v => m(v.id) = v))
    m.toMap
  }
}

object EtlModel {
  /** Columns of the summary endpoint, in wire order. */
  val wireCols: Seq[String] = Seq("id", "Region", "Pos", "Company",
    "HTSUSCode", "PublicStatus", "Quantity", "UnitPrice")
  val summaryCols: Seq[String] = Seq("Company", "HTSUSCode", "PublicStatus",
    "Quantity", "UnitPrice")
  val pageCols: Seq[String] = Seq("id", "url", "page")

  private val markers = Seq("BIS232Request.", "JSONData.", "BIS232Objection.",
    "BIS232ObjectionRebuttal")
  def stripMarkers(s: String): String = markers.foldLeft(s)((a, m) => a.replace(m, ""))
  def pyStrip(s: String): String = {
    val ws = " \t\n\u000B\f\r"
    s.dropWhile(ws.contains(_)).reverse.dropWhile(ws.contains(_)).reverse
  }
  def esc(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")
      .replace(">", "&gt;")

  /** Difference between an actual KV item / state row and the expected
    * version, or None when they agree. `fields` is compared as the
    * parsed JSON object, every other attribute as its string form.
    */
  def diff(expected: Version, actual: Map[String, String],
    withId: Boolean): Option[String] = {
    val want = if (withId) expected.item else expected.item - "ID"
    val got = actual - "fields"
    val fieldsOk = actual.get("fields").map(parseObject).contains(expected.fields)
    if (got != want) Some(s"${expected.id}: attributes ${got.toSeq.sorted} != ${want.toSeq.sorted}")
    else if (!fieldsOk) Some(s"${expected.id}: fields ${actual.get("fields")} != ${expected.fields}")
    else None
  }

  def parseObject(json: String): Map[String, String] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parse(json) match {
      case JObject(kv) => kv.collect { case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }
}
