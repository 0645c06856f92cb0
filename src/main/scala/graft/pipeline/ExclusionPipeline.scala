package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{FormInputs, Scalars}
import graft.sinks.LwwSink

/** The reference's three entry-point pipelines (SURVEY §3, E1–E3) as
  * one declarative DataFrame program: what took the reference a
  * serialized scrape loop + per-record Python transforms
  * (/root/reference/__main__.py:36-121) becomes
  *
  *   summaries (S1 source) ⋈ detail pages (S2) parsed to key/value
  *     rows → normalize keys (F1–F3) → drop noise (P3/P4)
  *     → pivot to document → summary-overwrites-detail merge (J1)
  *     → typify (F6) → LWW dedup by id (W1/S6) → sink-ready table
  *
  * Thread/node boundaries appear only at the joins/aggregations; the
  * reference's 81-code sequential fetch is replaced by partitioned
  * parallel reads of the source (see graft.sources.datatables).
  */
object ExclusionPipeline {

  /** Raw detail PAGES → normalized (id, key, value) rows: the
    * _read_page_inputs transform (clients/exclusion_requests.py:153-165)
    * end-to-end on page HTML. Input: one row per fetched page with
    * (idCol, pageCol = HTML text, urlCol). Per page:
    *   parse input/textarea tags → (key, value) pairs, empty values
    *     dropped ([[FormInputs]], :156-158)
    *   → dict build: the LAST occurrence of a key wins (:159)
    *   → add the URL entry (:160, overwriting any scraped 'URL' key
    *     like dict assignment does)
    *   → drop __RequestVerificationToken (:161-164).
    * Pages with no `<form>` (error pages, null bodies) produce NO
    * rows — deliberate deviation from the reference, which raises
    * AttributeError on `soup.form.find_all` and kills the whole run;
    * an engine drops the unparseable page instead of fabricating a
    * URL-only document for it.
    * Output feeds [[detailsToDocuments]]. Fully distributed: each
    * page is read once and parsed once; the only shuffle is the
    * per-(id,key) last-wins aggregate. Two pages for one id are an
    * error, not a silent merge: the aggregate counts each id's URL
    * entries and fails the query on a second one.
    */
  def parsePages(pages: DataFrame, idCol: String = "id",
    pageCol: String = "page", urlCol: String = "url"): DataFrame = {
    // One read of `pages`: the URL entry rides in the parsed array with
    // the largest ord, so the last-wins aggregate lets it overwrite a
    // scraped 'URL' key, and concat's null on a null parse keeps
    // "no parseable form ⇒ NO rows". A second branch for the URL rows
    // would scan the source twice (for a DataTables source, two count
    // probes and two fetches of every page).
    //
    // The generator runs on an expression, never on an attribute or an
    // alias of one: Catalyst infers `isnotnull(x) AND size(x) > 0` for
    // a generator over an attribute x and pushes that Filter through
    // the projection by substituting x's definition, so an aliased
    // parse is evaluated again in the Filter. The previous
    // Column-expression parse lost most of its time there: its
    // whole-form regex and lower() copies re-ran per exploded tag row,
    // 1.1 s of a 3.1 s etl_load load (PlanSpec guards it).
    val urlEntry = struct(lit(urlOrd).as("ord"), lit("URL").as("key"),
      col(urlCol).as("value"))
    // The dict build's last-occurrence-wins (:159) is a partial-combining
    // aggregate: per (id, key), the value at the largest `ord` (the tag
    // position, unique within (id, key)), reduced map-side before the
    // exchange instead of sorted after it. The URL count rides in the
    // same pass.
    pages.select(col(idCol).as("id"),
        inline(concat(FormInputs(col(pageCol)), array(urlEntry))))
      .groupBy("id", "key")
      .agg(max_by(col("value"), col("ord")).as("value"),
        count_if(col("ord") === urlOrd).as("urls"))
      .filter(col("key") =!= "__RequestVerificationToken")
      .select(col("id"), col("key"),
        when(col("urls") > 1, raise_error(
          concat(lit("parsePages: more than one page for id "), col("id"))))
          .otherwise(col("value")).as("value"))
  }

  /** `ord` of a page's URL entry: above every tag position. */
  private val urlOrd = Int.MaxValue

  /** Pivot [[parsePages]]' (id, key, value) rows into one document row
    * per id with an open-shape map column (SURVEY §1: fixed StructType
    * up front, dynamic tail in MapType). The rows must be unique per
    * (id, key), as [[parsePages]] leaves them: map_from_entries THROWS
    * on a duplicate key under Spark's default
    * mapKeyDedupPolicy=EXCEPTION.
    */
  def detailsToDocuments(normalized: DataFrame): DataFrame =
    // entries in key order: collect_list keeps the shuffle's arrival
    // order, so an unsorted map (its KV item string, its parquet
    // bytes) would vary with partitioning
    normalized
      .groupBy("id")
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("key"), col("value"))))).as("fields"))

  /** Merge summaries over detail documents: the reference assigns
    * summary values AFTER parsing the page, so summary wins on key
    * collision UNCONDITIONALLY — `all_values[col] = value` even when
    * the summary value is None (clients/exclusion_requests.py:97-99).
    * A bare coalesce cannot express that (it would resurrect a stale
    * scraped value under an explicitly-null summary field), so a
    * presence marker distinguishes 'id absent from summaries' (detail
    * value survives, J2) from 'summary value is null' (null wins).
    */
  def mergeSummaries(documents: DataFrame, summaries: DataFrame,
    summaryCols: Seq[String]): DataFrame = {
    val marked = summaries.withColumn("__has_summary", lit(true))
    val merged = documents.join(marked, Seq("id"), "left_outer")
    val overlaid = summaryCols.foldLeft(merged) { (df, c) =>
      df.withColumn(c,
        when(col("__has_summary"), col(c))
          .otherwise(element_at(col("fields"), c)))
    }
    overlaid.drop("__has_summary")
  }

  /** Typify the numeric columns (F6, guarded cascade) and stamp the
    * load order for LWW. Documented deviation from the reference: a
    * non-conforming value (guard-blocked, or float-shaped in a
    * longCol) becomes a typed NULL here, where the reference's
    * untyped dict keeps the raw string (dynamodb.py:51-63) — a typed
    * engine cannot hold both in one column. The raw string is not
    * lost: detail-sourced keys keep it in the `fields` map, and the
    * long/double column split itself is caller configuration the
    * reference doesn't have (its cascade is per-value).
    */
  def typifyColumns(df: DataFrame, longCols: Seq[String],
    doubleCols: Seq[String]): DataFrame = {
    val l = longCols.foldLeft(df)((d, c) =>
      d.withColumn(c, Scalars.typifyLong(col(c))))
    doubleCols.foldLeft(l)((d, c) =>
      d.withColumn(c, Scalars.typifyNumber(col(c))))
  }

  /** Declared S2 query: synthesize a detail page per document row
    * (HTML-safe fixture text), run the real input-tag parser over it,
    * and emit the parsed (doc_id, key, value) rows. The oracle
    * derives the expected pairs straight from the base columns, so
    * the driver hash-checks the whole parse path: title/name/Untitled
    * key fallback, marker strip, empty-value drop, token drop,
    * str(None) quirk, textarea trim, and the URL entry.
    */
  def q_html_inputs(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><body><form action=\"/f\" method=\"post\">"),
      lit("<input title=\"BIS232Request.Lang\" value=\""), col("lang"), lit("\"/>"),
      lit("<input name=\"JSONData.Source\" value=\""), col("source"), lit("\"/>"),
      lit("<input type=\"hidden\" value=\"h\"/>"),
      lit("<input title=\"Empty\" value=\"\"/>"),
      lit("<input name=\"__RequestVerificationToken\" value=\"tok\"/>"),
      lit("<input title=\"NoVal\"/>"),
      lit("<textarea name=\"Head\">"), substring(col("text"), 1, 30), lit("</textarea>"),
      lit("</form></body></html>"))
    val pages = graft.Tables(spark, dir, "documents")
      .select(col("doc_id").cast("string").as("id"), page.as("page"),
        concat(lit("https://portal/Forms/Item/"), col("doc_id")).as("url"))
    // No cache (r11): the r5 cache existed because the global ORDER
    // BY's range-bounds sampling re-executed the parse chain. Under
    // AQE the sort is a separate query stage whose sampling reads the
    // MATERIALIZED shuffle of the dedup stage inside parsePages, not
    // the raw parse — only the cheap URL branch (one FormInputs call
    // per page) re-runs. Dropping the cache removes a full per-pass
    // materialization (r11, 32 cores: 3.2–4.6 s cached-cold before,
    // value-identical after). With the FormInputs kernel it runs
    // 0.67 s at sf0.1 on 4 cores (SpotBench min of 5; 4.63 s with the
    // previous Column-expression parse, same host and session).
    parsePages(pages)
      .select(col("id").cast("long").as("doc_id"), col("key"), col("value"))
      .orderBy("doc_id", "key")
  }

  /** End-to-end E1: summaries source + detail pages (id, page, url)
    * → load-ready exclusion-request table, through the same stages an
    * incremental load runs before its sinks.
    */
  def run(spark: SparkSession, summaries: DataFrame, pages: DataFrame,
    summaryCols: Seq[String], longCols: Seq[String],
    doubleCols: Seq[String]): DataFrame = {
    val docs = detailsToDocuments(parsePages(pages))
    val merged = mergeSummaries(docs, summaries, summaryCols)
    val typed = typifyColumns(merged, longCols, doubleCols)
    // last-write-wins upsert semantics of the DynamoDB PUT sink
    // (__main__.py:11-23): of N versions of an id, the latest
    // `scrape_ts` (tie-break: highest batch position) survives
    LwwSink.reduce(typed, Seq("id"), col("scrape_ts"), col("scrape_pos"))
  }
}
