package graft.sources

import java.util
import java.util.zip.GZIPInputStream
import graft.core.io.Storage
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for WARC web archives (see [[Warc]]):
  * {{{ spark.read.format("graft.sources.WarcDataSource").load(dir) }}}
  *
  * Plans against the `.warc.cdx` sidecars when present, with three scan
  * modes picked per file at planning time:
  *  - '''index-only''' — required columns all live in the CDX
  *    (`warc_file, uri, payload_len, payload_sha256`): rows are served
  *    straight from the sidecar and the archive is NEVER OPENED. A
  *    metadata query over a 100 TB crawl reads only its index.
  *  - '''fetch''' — payload/date/record_id needed: pushed filters prune
  *    CDX entries first, then each partition range-reads exactly the
  *    selected gzip members (bytes read = Σ selected member lengths).
  *    Files whose entries all fail the pushed filters produce NO
  *    partition at all — file-level pruning like parquet's.
  *  - '''full-scan''' — no sidecar: sequential member walk (memory = one
  *    record) with pushed filters evaluated before row materialization.
  *
  * Pushdown surface: column pruning (`SupportsPushDownRequiredColumns`)
  * and exact filters (`SupportsPushDownFilters`) — the string-predicate
  * family over `warc_file`/`uri` and comparisons over `payload_len`,
  * plus boolean combinations. Handled filters are dropped from the
  * residual; they are exact in every mode.
  */
class WarcDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "warc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new WarcTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object WarcDataSource {
  val schema: StructType = StructType(Seq(
    StructField("warc_file", StringType),
    StructField("uri", StringType),
    StructField("record_id", StringType),
    StructField("date", StringType),
    StructField("payload_len", LongType),
    StructField("payload_sha256", StringType),
    StructField("payload", BinaryType)))

  /** Columns a CDX sidecar can serve without opening the archive. */
  private[sources] val indexServable = Set("warc_file", "uri", "payload_len",
    "payload_sha256")

  import org.apache.spark.sql.sources._

  private val filterable = Set("warc_file", "uri", "payload_len")

  private def asLong(v: Any): Option[Long] = v match {
    case l: Long => Some(l)
    case i: Int  => Some(i.toLong)
    case _       => None
  }

  private[sources] def supportsFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == "warc_file" || a == "uri"
    case EqualTo(a, v)         => a == "payload_len" && asLong(v).isDefined
    case In(a, vs)             => (a == "warc_file" || a == "uri") &&
                                  vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _) => a == "warc_file" || a == "uri"
    case StringEndsWith(a, _)   => a == "warc_file" || a == "uri"
    case StringContains(a, _)   => a == "warc_file" || a == "uri"
    case GreaterThan(a, v)        => a == "payload_len" && asLong(v).isDefined
    case GreaterThanOrEqual(a, v) => a == "payload_len" && asLong(v).isDefined
    case LessThan(a, v)           => a == "payload_len" && asLong(v).isDefined
    case LessThanOrEqual(a, v)    => a == "payload_len" && asLong(v).isDefined
    case IsNotNull(a) => filterable.contains(a)
    case IsNull(a)    => filterable.contains(a)
    case And(l, r)    => supportsFilter(l) && supportsFilter(r)
    case Or(l, r)     => supportsFilter(l) && supportsFilter(r)
    case Not(c)       => supportsFilter(c)
    case _            => false
  }

  private[sources] def evalFilter(f: Filter, file: String, uri: String,
                                  plen: Long): Boolean = {
    def s(attr: String): String = attr match {
      case "warc_file" => file
      case "uri"       => uri
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    f match {
      case EqualTo("payload_len", v) => asLong(v).contains(plen)
      case EqualTo(a, v: String)     => s(a) == v
      case In(a, vs)                 => vs.exists(_ == s(a))
      case StringStartsWith(a, p)    => s(a).startsWith(p)
      case StringEndsWith(a, p)      => s(a).endsWith(p)
      case StringContains(a, p)      => s(a).contains(p)
      case GreaterThan("payload_len", v)        => plen > asLong(v).get
      case GreaterThanOrEqual("payload_len", v) => plen >= asLong(v).get
      case LessThan("payload_len", v)           => plen < asLong(v).get
      case LessThanOrEqual("payload_len", v)    => plen <= asLong(v).get
      case IsNotNull(_) => true // all pushable columns are non-null
      case IsNull(_)    => false
      case And(l, r) => evalFilter(l, file, uri, plen) && evalFilter(r, file, uri, plen)
      case Or(l, r)  => evalFilter(l, file, uri, plen) || evalFilter(r, file, uri, plen)
      case Not(c)    => !evalFilter(c, file, uri, plen)
      case other => throw new IllegalArgumentException(s"unpushable filter $other")
    }
  }
}

private class WarcTable(path: String) extends Table with SupportsRead {
  require(path != null, "warc source needs a load(path)")
  override def name(): String = s"warc($path)"
  override def schema(): StructType = WarcDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new WarcScanBuilder(path)
}

/** Pushed-down aggregate shapes the WARC source can serve from the CDX
  * sidecar alone (or a streaming record walk when a file has no sidecar).
  */
private[sources] sealed trait WarcAgg
private[sources] case object WAggCount extends WarcAgg
private[sources] case object WAggSumLen extends WarcAgg
private[sources] final case class WAggMin(column: String) extends WarcAgg
private[sources] final case class WAggMax(column: String) extends WarcAgg

private class WarcScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit with SupportsPushDownTopN {
  import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, SortOrder}
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.sources.Filter
  private var required: StructType = WarcDataSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Option[Seq[WarcAgg]] = None
  private var groupCols: Seq[String] = Nil
  private var limit: Option[Int] = None
  private var topOrders: Seq[(String, Boolean)] = Nil

  /** PARTIAL limit pushdown: each CDX-indexed file contributes at most
    * `limit` entries (index mode serves ≤ limit rows per file; fetch
    * mode range-reads ≤ limit members per file). Spark keeps the global
    * limit — `isPartiallyPushed` — so sidecar-less files (full-scan
    * partitions, which can't bound rows without reading) stay correct.
    * A `LIMIT 10` over a 100 TB crawl touches ≤ 10 index lines per
    * archive instead of every record.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** PARTIAL top-N pushdown over INDEX-SERVABLE sort keys: each indexed
    * file sorts its (filter-surviving) CDX entries by the pushed order
    * and keeps the top `limit` — `ORDER BY payload_len DESC LIMIT k`
    * over a crawl reads only index lines and ships ≤ k rows per file to
    * Spark's final TakeOrdered merge. Keys are all non-null, and the
    * index columns are ASCII (binary order = Java order), so per-file
    * ordering agrees with Spark's. Archive-only keys (date/record_id/
    * payload) and agg-mode scans decline the pushdown.
    */
  override def pushTopN(orders: Array[SortOrder], l: Int): Boolean = {
    val cols = orders.toSeq.map(o => o.expression() match {
      case r: NamedReference if r.fieldNames.length == 1 &&
        WarcDataSource.indexServable.contains(r.fieldNames.head) =>
        Some((r.fieldNames.head, o.direction() == SortDirection.DESCENDING))
      case _ => None
    })
    if (aggs.nonEmpty || cols.isEmpty || cols.exists(_.isEmpty)) false
    else { topOrders = cols.flatten; limit = Some(l); true }
  }
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(WarcDataSource.schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition(WarcDataSource.supportsFilter)
    pushed = ours
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown over the INDEX-SERVABLE columns only:
    * COUNT(*) / COUNT(col) / MIN / MAX / SUM(payload_len), ungrouped or
    * GROUP BY index-servable columns, are answered from the CDX sidecar
    * without ever opening an archive — at web-corpus scale "how many
    * records / how many payload bytes, per warc file / uri prefix" reads
    * kilobytes of index instead of terabytes of gzip, shipping one
    * summary row per (partition, group). Files lacking a sidecar fall
    * back to a streaming record walk that still returns only partials.
    * Aggregates or group keys touching archive-only columns
    * (payload/date/record_id) and DISTINCT shapes stay in Spark.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 &&
        WarcDataSource.indexServable.contains(r.fieldNames.head) =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val gb = agg.groupByExpressions.toSeq.map(colOf)
    if (!gb.forall(_.isDefined)) return false
    val mapped: Seq[Option[WarcAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar              => Some(WAggCount)
      case c: Count if !c.isDistinct => colOf(c.column).map(_ => WAggCount)
      case m: Min                    => colOf(m.column).map(WAggMin)
      case m: Max                    => colOf(m.column).map(WAggMax)
      case s: Sum if !s.isDistinct   =>
        colOf(s.column).filter(_ == "payload_len").map(_ => WAggSumLen)
      case _                         => None
    }
    if (mapped.nonEmpty && mapped.forall(_.isDefined)) {
      aggs = Some(mapped.flatten)
      groupCols = gb.flatten
      true
    } else false
  }

  private def aggField(a: WarcAgg, i: Int): StructField = a match {
    case WAggCount  => StructField(s"count_$i", LongType, nullable = false)
    case WAggSumLen => StructField(s"sum_payload_len_$i", LongType)
    case WAggMin(c) => StructField(s"min_${c}_$i",
      WarcDataSource.schema(c).dataType)
    case WAggMax(c) => StructField(s"max_${c}_$i",
      WarcDataSource.schema(c).dataType)
  }

  override def build(): Scan = new WarcScan(path, aggs match {
    case Some(a) => StructType(
      groupCols.map(c => StructField(c, WarcDataSource.schema(c).dataType)) ++
        a.zipWithIndex.map((aggField _).tupled))
    case None    => required
  }, pushed, aggs, groupCols,
    if (aggs.isEmpty) limit else None,
    if (aggs.isEmpty) topOrders else Nil)
}

private sealed trait WarcPartition extends InputPartition
private case class WarcFullScanPartition(file: String) extends WarcPartition
private case class WarcIndexPartition(entries: Seq[CdxEntry]) extends WarcPartition
private case class WarcFetchPartition(dir: String, file: String,
                                      entries: Seq[CdxEntry]) extends WarcPartition

private class WarcScan(path: String, required: StructType,
                       pushed: Array[org.apache.spark.sql.sources.Filter],
                       aggs: Option[Seq[WarcAgg]] = None,
                       groupCols: Seq[String] = Nil,
                       limit: Option[Int] = None,
                       topOrders: Seq[(String, Boolean)] = Nil)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"WarcScan path=$path, PushedFilters: [${pushed.mkString(", ")}], " +
      aggs.fold("")(a => s"PushedAggregation: [${a.mkString(", ")}], ") +
      (if (groupCols.isEmpty) ""
       else s"PushedGroupBy: [${groupCols.mkString(", ")}], ") +
      (if (topOrders.nonEmpty)
        s"PushedTopN: [${topOrders.map { case (c, d) =>
          c + (if (d) " DESC" else " ASC") }.mkString(", ")} LIMIT ${limit.get}], "
      else limit.fold("")(l => s"PushedLimit: [$l], ")) +
      s"ReadSchema: [${required.fieldNames.mkString(", ")}]"

  /** Per-file pre-merge ordering for the pushed top-N (keys restricted
    * to index-servable, non-null, ASCII columns).
    */
  private def cdxOrdering: Ordering[CdxEntry] =
    topOrders.map { case (c, desc) =>
      val base: Ordering[CdxEntry] = c match {
        case "warc_file"      => Ordering.by(_.warc_file)
        case "uri"            => Ordering.by(_.uri)
        case "payload_len"    => Ordering.by(_.payload_len)
        case "payload_sha256" => Ordering.by(_.payload_sha256)
        case other => throw new IllegalArgumentException(s"unsortable $other")
      }
      if (desc) base.reverse else base
    }.reduce(_ orElse _)

  // payload/date/record_id live only inside the archive members; pushed
  // aggregates are restricted to index-servable columns, so agg mode
  // never opens an archive that has a sidecar
  private def needsArchive: Boolean =
    aggs.isEmpty &&
      required.fieldNames.exists(f => !WarcDataSource.indexServable.contains(f))

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    // plan from the union of archive and sidecar stems: an index-only
    // query over a sidecar whose archive was tiered away still plans
    val listed = Option(fs.listStatus(p)).getOrElse(Array.empty)
      .filter(_.isFile).map(_.getPath.getName)
    val stems = (listed.filter(_.endsWith(".warc.gz")).map(_.stripSuffix(".gz")) ++
      listed.filter(_.endsWith(".warc.cdx")).map(_.stripSuffix(".cdx")))
      .distinct.sorted
    stems.map(s => new Path(p, s + ".gz")).flatMap { f =>
      val entries = Warc.readCdxSidecar(fs, f)
      if (entries.isEmpty) {
        // no sidecar: sequential walk, filters applied in the reader
        Seq(WarcFullScanPartition(f.toString): InputPartition)
      } else {
        val kept0 = entries.filter(e => pushed.forall(
          WarcDataSource.evalFilter(_, e.warc_file, e.uri, e.payload_len)))
        // pushed top-N / limit: ≤ limit entries survive PER FILE (the
        // global merge is Spark's — isPartiallyPushed). Top-N sorts by
        // the pushed keys first so the survivors are the file's true
        // best; plain LIMIT takes any `limit` entries (order-free).
        val kept =
          if (topOrders.nonEmpty) kept0.sorted(cdxOrdering).take(limit.get)
          else limit.fold(kept0)(kept0.take)
        if (kept.isEmpty) Seq.empty // whole file pruned
        else kept.grouped(2048).map[InputPartition] { group =>
          if (needsArchive) WarcFetchPartition(p.toString, f.getName, group)
          else WarcIndexPartition(group)
        }.toSeq
      }
    }
  }

  // tasks open archives from the session's Hadoop conf, broadcast once
  // per scan
  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(Storage.taskConf(SparkSession.active), required, pushed,
      aggs, groupCols)
}

private class WarcReaderFactory(conf: Broadcast[org.apache.spark.util.SerializableConfiguration],
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggs: Option[Seq[WarcAgg]] = None,
    groupCols: Seq[String] = Nil)
    extends PartitionReaderFactory {

  // recordId/date/sha/payload are by-name: only evaluated when the column
  // is actually in the pruned schema (the index-only reader passes
  // loud-failure thunks for archive-only columns)
  private def row(warcFile: String, uri: String, recordId: => String, date: => String,
                  payloadLen: Long, sha: => String, payload: => Array[Byte]): InternalRow = {
    val vals: Array[Any] = required.fieldNames.map {
      case "warc_file"      => UTF8String.fromString(warcFile)
      case "uri"            => UTF8String.fromString(uri)
      case "record_id"      => UTF8String.fromString(recordId)
      case "date"           => UTF8String.fromString(date)
      case "payload_len"    => payloadLen: java.lang.Long
      case "payload_sha256" => UTF8String.fromString(sha)
      case "payload"        => payload
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(vals)
  }

  private def sha256Hex(bytes: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes).map("%02x".format(_)).mkString

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    aggs match {
      case Some(a) => new WarcAggReader(conf, partition, pushed, a, groupCols)
      case None    => createRowReader(partition)
    }

  private def createRowReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case WarcIndexPartition(entries) =>
        // archive never opened: rows come straight from the CDX
        val it = entries.iterator
        new PartitionReader[InternalRow] {
          private var cur: CdxEntry = _
          override def next(): Boolean = { val h = it.hasNext; if (h) cur = it.next(); h }
          override def get(): InternalRow =
            row(cur.warc_file, cur.uri,
              sys.error("record_id is not index-servable"),
              sys.error("date is not index-servable"),
              cur.payload_len, cur.payload_sha256,
              sys.error("payload is not index-servable"))
          override def close(): Unit = ()
        }
      case WarcFetchPartition(dir, file, entries) =>
        new PartitionReader[InternalRow] {
          private val hp = new Path(dir, file)
          private val in = hp.getFileSystem(conf.value.value).open(hp)
          private val it = entries.sortBy(_.offset).iterator
          private var cur: WarcRecord = _
          private var curSha: String = _
          override def next(): Boolean = {
            if (!it.hasNext) return false
            val e = it.next()
            in.seek(e.offset)
            val member = new Array[Byte](e.length.toInt)
            in.readFully(member)
            val one = Warc.parseStream(file,
              new GZIPInputStream(new java.io.ByteArrayInputStream(member)))
            cur = one.next()
            curSha = e.payload_sha256
            true
          }
          override def get(): InternalRow =
            row(cur.warc_file, cur.uri, cur.record_id, cur.date,
              cur.payload.length.toLong, curSha, cur.payload)
          override def close(): Unit = in.close()
        }
      case WarcFullScanPartition(file) =>
        new PartitionReader[InternalRow] {
          private val hp = new Path(file)
          private val it = Warc.parseStream(hp.getName,
            new GZIPInputStream(hp.getFileSystem(conf.value.value).open(hp)))
          private var cur: WarcRecord = _
          override def next(): Boolean = {
            while (it.hasNext) {
              val r = it.next()
              if (pushed.forall(WarcDataSource.evalFilter(_, r.warc_file, r.uri,
                  r.payload.length.toLong))) {
                cur = r; return true
              }
            }
            false
          }
          override def get(): InternalRow =
            row(cur.warc_file, cur.uri, cur.record_id, cur.date,
              cur.payload.length.toLong, sha256Hex(cur.payload), cur.payload)
          override def close(): Unit = ()
        }
    }
}

/** Pre-aggregated partials per partition — one row per group the
  * partition contains (one unconditionally when ungrouped: the
  * global-aggregate contract needs an empty partial). Index partitions
  * fold the CDX entries (archive never opened — planning already applied
  * the pushed filters); sidecar-less files stream their records once.
  * MIN/MAX/SUM over zero surviving records are null partials, which the
  * final merge ignores.
  */
private class WarcAggReader(conf: Broadcast[org.apache.spark.util.SerializableConfiguration],
    partition: InputPartition,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggs: Seq[WarcAgg],
    groupCols: Seq[String] = Nil) extends PartitionReader[InternalRow] {

  private def needsSha: Boolean = groupCols.contains("payload_sha256") ||
    aggs.exists {
      case WAggMin("payload_sha256") | WAggMax("payload_sha256") => true
      case _ => false
    }

  private final class Acc {
    var count = 0L
    var sum = 0L
    val minV = new Array[Any](aggs.size)
    val maxV = new Array[Any](aggs.size)
  }

  private lazy val rows: Iterator[InternalRow] = {
    val groups = new java.util.LinkedHashMap[Seq[Any], Acc]()
    if (groupCols.isEmpty) groups.put(Nil, new Acc)

    def fold(file: String, uri: String, plen: Long, sha: => String): Unit = {
      def value(c: String): Any = c match {
        case "warc_file"      => file
        case "uri"            => uri
        case "payload_len"    => plen
        case "payload_sha256" => sha
        case other => throw new IllegalArgumentException(s"unknown $other")
      }
      def lt(a: Any, b: Any): Boolean = (a, b) match {
        case (x: Long, y: Long)     => x < y
        // UTF-8 byte order — the comparator Spark's own StringType
        // Min/Max uses (see ManifestDataSource.utf8Lt)
        case (x: String, y: String) => ManifestDataSource.utf8Lt(x, y)
        case _                      => false
      }
      val key = groupCols.map(value)
      var acc = groups.get(key)
      if (acc == null) { acc = new Acc; groups.put(key, acc) }
      acc.count += 1
      acc.sum += plen
      var i = 0
      while (i < aggs.size) {
        aggs(i) match {
          case WAggMin(c) =>
            val v = value(c)
            if (acc.minV(i) == null || lt(v, acc.minV(i))) acc.minV(i) = v
          case WAggMax(c) =>
            val v = value(c)
            if (acc.maxV(i) == null || lt(acc.maxV(i), v)) acc.maxV(i) = v
          case _ => ()
        }
        i += 1
      }
    }

    partition match {
      case WarcIndexPartition(entries) =>
        entries.foreach(e => fold(e.warc_file, e.uri, e.payload_len, e.payload_sha256))
      case WarcFetchPartition(_, _, entries) =>
        // CDX entries carry every index-servable column — same fold
        entries.foreach(e => fold(e.warc_file, e.uri, e.payload_len, e.payload_sha256))
      case WarcFullScanPartition(file) =>
        val hp = new Path(file)
        val it = Warc.parseStream(hp.getName,
          new GZIPInputStream(hp.getFileSystem(conf.value.value).open(hp)))
        val sha = needsSha
        while (it.hasNext) {
          val r = it.next()
          val plen = r.payload.length.toLong
          if (pushed.forall(WarcDataSource.evalFilter(_, r.warc_file, r.uri, plen)))
            fold(r.warc_file, r.uri, plen,
              if (sha) java.security.MessageDigest.getInstance("SHA-256")
                .digest(r.payload).map("%02x".format(_)).mkString
              else "")
        }
    }

    def out(v: Any): Any = v match {
      case null      => null
      case s: String => UTF8String.fromString(s)
      case l: Long   => l
    }
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      groups.entrySet().iterator()).asScala.map { e =>
      val acc = e.getValue
      val vals: Array[Any] = e.getKey.map(out).toArray ++
        aggs.zipWithIndex.map {
          case (WAggCount, _)  => acc.count: Any
          case (WAggSumLen, _) => if (acc.count == 0) null else (acc.sum: Any)
          case (WAggMin(_), i) => out(acc.minV(i))
          case (WAggMax(_), i) => out(acc.maxV(i))
        }
      new GenericInternalRow(vals): InternalRow
    }
  }

  private var cur: InternalRow = _
  override def next(): Boolean =
    if (rows.hasNext) { cur = rows.next(); true } else false
  override def get(): InternalRow = cur
  override def close(): Unit = ()
}
