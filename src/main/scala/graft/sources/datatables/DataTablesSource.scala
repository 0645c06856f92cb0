package graft.sources.datatables

import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection, Transform, SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 implementation of the reference's DataTables-protocol
  * table source (SURVEY §2.1 S1).
  *
  * The reference scrapes a jQuery-DataTables server-side endpoint:
  * POST with column descriptors, a `search.value` equality filter on
  * a searchable column, `order`, and `start`/`length` paging
  * (/root/reference/clients/exclusion_requests.py:78-90, payload
  * template /root/reference/config.py:23-30). This source exposes
  * that wire contract to Catalyst so the optimizer's pushdowns reach
  * the server exactly like the reference's hand-written payloads:
  *
  *  - SupportsPushDownRequiredColumns → the column-descriptor list
  *    (the reference's fixed `columns` payload, config.py:13-22);
  *  - SupportsPushDownFilters → `search.value` on the searchable
  *    column (the reference pushes HTSUSCode, :81-82); non-equality
  *    filters stay post-scan;
  *  - SupportsPushDownLimit → `length` (the reference's 1000/5000);
  *  - SupportsPushDownTopN → the `order` payload + `length` (the
  *    reference sends order:[{column,dir}] and overrides it to
  *    HTSUSCode desc, config.py:26 / exclusion_requests.py:85), so an
  *    orderBy+limit fetches only ⌈k/pageSize⌉ pages instead of the
  *    whole table;
  *  - paging → one InputPartition per page, so a 100 TB-scale crawl
  *    fetches pages in parallel across executors instead of the
  *    reference's fully serialized loop (__main__.py:48-57). The page
  *    count comes from one count probe per scan per query execution
  *    ([[DataTablesScan]]).
  *
  * The network transport is pluggable ([[DataTablesTransport]]):
  * [[HttpTransport]] makes one HTTP POST per [[PageRequest]], wrapped
  * in [[RetryingTransport]] for the retry policy (S5), with the
  * session/CSRF headers from [[SessionBootstrap]] (S4); a
  * fixture-backed transport serves the declared queries and tests.
  * Every transport, HTTP included, reaches the scan only by name
  * through the JVM-local [[TransportRegistry]]: the `transport` option
  * names a registration, and no option builds a transport. The
  * driver's count probe and the executors' page fetches look that
  * name up in their own JVM, so reads work in local mode only.
  */
class DefaultSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    DataTablesTable.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
    properties: util.Map[String, String]): Table =
    new DataTablesTable(schema, new CaseInsensitiveStringMap(properties))
}

/** One page of the DataTables protocol: the exact knobs the reference
  * POSTs (config.py:23-30). `order` is (column, ascending) pairs —
  * the protocol's order:[{column,dir}] payload; empty means the
  * server's default order.
  */
case class PageRequest(
  columns: Seq[String],
  searchColumn: Option[String],
  searchValue: Option[String],
  start: Int,
  length: Int,
  order: Seq[(String, Boolean)] = Nil)

/** Pluggable wire transport. Implementations must be serializable —
  * they execute inside tasks (one page per task).
  */
trait DataTablesTransport extends Serializable {
  /** Total row count for paging (the protocol's recordsFiltered). */
  def count(searchColumn: Option[String], searchValue: Option[String]): Long
  /** Serve one page: row-arrays of strings, DataTables style. */
  def fetch(req: PageRequest): Seq[Seq[String]]
}

/** JVM-local registry: the only way any transport, fixture or HTTP,
  * reaches a scan. A registration made on the driver is invisible to
  * executors in other JVMs, so a cluster read fails its page fetches
  * with "no transport registered"; reads work in local mode only.
  */
object TransportRegistry {
  private val transports =
    new java.util.concurrent.ConcurrentHashMap[String, DataTablesTransport]()
  def register(name: String, t: DataTablesTransport): Unit =
    transports.put(name, t)
  def get(name: String): DataTablesTransport = {
    val t = transports.get(name)
    require(t != null, s"no transport registered under '$name'")
    t
  }
}

object DataTablesTable {
  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
    val cols = options.get("columns")
    require(cols != null, "option 'columns' (comma-separated) is required")
    // scraped values are strings; typify runs downstream (SURVEY §1)
    StructType(cols.split(",").map(c => StructField(c.trim, StringType)))
  }
}

class DataTablesTable(tableSchema: StructType, options: CaseInsensitiveStringMap)
  extends Table with SupportsRead {
  override def name(): String =
    s"datatables(${options.getOrDefault("transport", "?")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new DataTablesScanBuilder(tableSchema, options)
}

class DataTablesScanBuilder(fullSchema: StructType,
  options: CaseInsensitiveStringMap)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns with SupportsPushDownLimit
  with SupportsPushDownTopN with SupportsPushDownOffset {

  private val searchable = options.getOrDefault("searchablecolumn", "")
  private val pageSize = options.getOrDefault("pagesize", "1000").toInt
  private var schema: StructType = fullSchema
  private var pushedSearch: Option[(String, String)] = None
  private var postScan: Array[Filter] = Array.empty
  private var limit: Option[Int] = None
  private var offset: Int = 0
  private var order: Seq[(String, Boolean)] = Nil

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // the protocol supports ONE equality via search.value on the
    // searchable column (exclusion_requests.py:81-82); everything
    // else is evaluated by Spark after the scan
    val (push, rest) = filters.partition {
      case EqualTo(col, _) =>
        pushedSearch.isEmpty && col.equalsIgnoreCase(searchable)
      case _ => false
    }
    push.headOption.foreach { case EqualTo(c, v) =>
      pushedSearch = Some((c, String.valueOf(v)))
    }
    postScan = rest ++ push.drop(1)
    postScan
  }
  override def pushedFilters(): Array[Filter] =
    pushedSearch.map { case (c, v) => EqualTo(c, v): Filter }.toArray

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.nonEmpty) schema = requiredSchema

  override def pushLimit(n: Int): Boolean = {
    limit = Some(n)
    true // fully pushed: the server's `length` caps the result
  }

  /** OFFSET → the protocol's `start` field, the same knob the
    * reference pages with (config.py:24 / exclusion_requests.py:84).
    * Catalyst's contract: for LIMIT n OFFSET m it first pushes
    * limit = n + m (via pushLimit/pushTopN), then pushOffset(m), and
    * the source must emit rows [m, n + m) of the (ordered, filtered)
    * stream — so the scan skips ⌊m/pageSize⌋ whole pages and plans
    * only the ⌈(limit − m)/pageSize⌉ pages the query can return.
    */
  override def pushOffset(n: Int): Boolean = {
    offset = n
    true
  }

  /** ORDER BY + LIMIT → the protocol's order payload + length. Spark
    * only offers a TopN when the sort sits directly on the (filtered)
    * scan, so pushing is always sound; the scan then plans only
    * ⌈n/pageSize⌉ pages. All sort keys must be plain columns (the
    * protocol orders by column index) carrying Spark's DEFAULT null
    * ordering (asc⇒NULLS FIRST, desc⇒NULLS LAST) — the server sorts
    * absent values like empty strings, which matches only the
    * defaults, so a non-default null ordering is not pushed at all.
    */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean = {
    val cols = orders.toSeq.map(o => o.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 &&
        ((o.direction() == SortDirection.ASCENDING &&
          o.nullOrdering() == NullOrdering.NULLS_FIRST) ||
          (o.direction() == SortDirection.DESCENDING &&
            o.nullOrdering() == NullOrdering.NULLS_LAST)) =>
        Some((nr.fieldNames()(0), o.direction() == SortDirection.ASCENDING))
      case _ => None
    })
    if (cols.nonEmpty && cols.forall(_.isDefined)) {
      order = cols.flatten
      limit = Some(limit.fold(n)(math.min(_, n)))
      true
    } else false
  }

  /** Exact (not partial) only when the TopN fits in one protocol page:
    * a single fetch returns the rows already globally ordered. Across
    * several pages Spark keeps its (cheap, n-row) final sort — the
    * page fetch saving is the point.
    */
  override def isPartiallyPushed(): Boolean =
    !(order.nonEmpty && limit.exists(_ <= pageSize))

  /** Columns fetched on the wire: the pruned output schema PLUS any
    * pushed sort column pruning removed (the protocol orders by
    * column DESCRIPTOR index, so a sort-only column must still ride
    * in the request — e.g. orderBy(HTSUSCode).limit(5).select(Company)
    * prunes HTSUSCode from the output but the server still needs its
    * descriptor to sort; the reader projects it away).
    */
  private def fetchCols: Seq[String] =
    schema.fieldNames.toSeq ++
      order.map(_._1).filterNot(schema.fieldNames.contains)

  override def build(): Scan = new DataTablesScan(
    schema, fetchCols, options.getOrDefault("transport", ""), pushedSearch,
    limit, pageSize, order, offset)
}

/** One pushed-down read: one count probe per scan per query execution.
  * The page partitions are a lazy val here, not only on the exec node:
  * `BatchScanExec.inputPartitions` is a lazy val of the node, and
  * planning copies that node (the cache's plan, AQE's re-planning), so
  * each copy would probe the server again. Every copy shares this
  * Scan. A new execution builds a new Scan and probes afresh, so no
  * count outlives its query.
  */
class DataTablesScan(schema: StructType, fetchCols: Seq[String],
  transportName: String, search: Option[(String, String)],
  limit: Option[Int], pageSize: Int, order: Seq[(String, Boolean)] = Nil,
  offset: Int = 0)
  extends Scan with Batch {

  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"DataTablesScan(search=$search, limit=$limit, pageSize=$pageSize, " +
      s"order=$order, offset=$offset)"

  override def planInputPartitions(): Array[InputPartition] = partitions

  private lazy val partitions: Array[InputPartition] = {
    val transport = TransportRegistry.get(transportName)
    val total0 = transport.count(search.map(_._1), search.map(_._2))
    // pushed limit already INCLUDES the pushed offset (Catalyst sends
    // limit+offset, then the offset): the scan window is [begin, total)
    val total = limit.fold(total0)(l => math.min(total0, l.toLong))
    val begin = math.min(offset.toLong, total)
    // one partition per protocol page — parallel fetch replaces the
    // reference's serialized per-page loop
    val pages = ((total - begin + pageSize - 1) / pageSize).toInt
    (0 until math.max(pages, 0)).map { p =>
      val start = begin + p * pageSize
      val len = math.min(pageSize.toLong, total - start).toInt
      DataTablesPartition(start.toInt, len): InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new DataTablesReaderFactory(schema.fieldNames, fetchCols, transportName,
      search, order)
}

case class DataTablesPartition(start: Int, length: Int) extends InputPartition

class DataTablesReaderFactory(outputCols: Array[String],
  fetchCols: Seq[String], transportName: String,
  search: Option[(String, String)], order: Seq[(String, Boolean)] = Nil)
  extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[DataTablesPartition]
    new PartitionReader[InternalRow] {
      // project wire cells down to the output schema (fetchCols may
      // carry sort-only columns the output pruned away)
      private val outIdx = outputCols.map(fetchCols.indexOf)
      private val rows = TransportRegistry.get(transportName)
        .fetch(PageRequest(fetchCols, search.map(_._1), search.map(_._2),
          part.start, part.length, order))
        .iterator
      private var cur: Seq[String] = _
      override def next(): Boolean = { val h = rows.hasNext; if (h) cur = rows.next(); h }
      override def get(): InternalRow =
        InternalRow.fromSeq(outIdx.toSeq.map { i =>
          val v = cur(i)
          if (v == null) null else UTF8String.fromString(v)
        })
      override def close(): Unit = ()
    }
  }
}

/** Retry decorator (SURVEY §2.1 S5): the reference retries each GET
  * up to `maxRetries` times and gives up returning None
  * (clients/exclusion_requests.py:167-179); here exhaustion surfaces
  * the error to Spark's own task-retry machinery instead of silently
  * dropping a page — losing a page of a 100 TB crawl silently is the
  * reference behavior NOT worth reproducing.
  */
case class RetryingTransport(inner: DataTablesTransport, maxRetries: Int)
  extends DataTablesTransport {
  private def withRetry[T](f: => T): T = {
    var attempt = 0
    while (true) {
      try return f
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt > maxRetries) throw e
      }
    }
    throw new IllegalStateException("unreachable")
  }
  override def count(sc: Option[String], sv: Option[String]): Long =
    withRetry(inner.count(sc, sv))
  override def fetch(req: PageRequest): Seq[Seq[String]] =
    withRetry(inner.fetch(req))
}

/** Fixture transport: serves the protocol from in-memory records —
  * the stand-in for the portal in this zero-egress environment.
  * Honors the `order` payload (lexicographic per key, like the
  * DataTables default string ordering), tie-broken by `sortKey` so
  * paged reads stay stable; with no order payload it sorts by
  * `sortKey` — a deterministic server default.
  */
case class FixtureTransport(records: Seq[Map[String, String]], sortKey: String)
  extends DataTablesTransport {

  private def filtered(sc: Option[String], sv: Option[String],
    order: Seq[(String, Boolean)] = Nil) = {
    val base = (sc, sv) match {
      case (Some(c), Some(v)) => records.filter(_.get(c).contains(v))
      case _ => records
    }
    val keys = order :+ (sortKey -> true)
    base.sortWith { (a, b) =>
      keys.iterator.map { case (c, asc) =>
        val r = a.getOrElse(c, "").compareTo(b.getOrElse(c, ""))
        if (asc) r else -r
      }.find(_ != 0).getOrElse(0) < 0
    }
  }

  override def count(sc: Option[String], sv: Option[String]): Long =
    filtered(sc, sv).size.toLong

  override def fetch(req: PageRequest): Seq[Seq[String]] =
    filtered(req.searchColumn, req.searchValue, req.order)
      .slice(req.start, req.start + req.length)
      .map(r => req.columns.map(c => r.getOrElse(c, null)))
}
