package graft.sources

import graft.core.io.Storage
import java.util
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StructField, StructType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference's checksum-manifest format
  * (S1: fixed-width `64-hex-digest  path` lines —
  * s3_lib/s3_lib/checksum_lib.py:46-51): the SURVEY §2.1 source surfaced
  * as a first-class `spark.read.format(...)` table instead of a
  * text-read + projection.
  *
  * {{{ spark.read.format("graft.sources.ManifestDataSource").load(dir) }}}
  *
  * Scale/plan behavior: one InputPartition per manifest FILE (manifests
  * are small side files; a 100 TB corpus has many of them, and file-grain
  * partitions parallelize the fleet), and the ScanBuilder implements
  * column pruning (`SupportsPushDownRequiredColumns`) so
  * `.select("file")` never materializes the checksum or basename —
  * the same pruning contract the parquet scans honor, visible as the
  * pruned `ReadSchema` in explain output — plus exact filter pushdown
  * (`SupportsPushDownFilters`: equality / IN / prefix / suffix /
  * contains and their boolean combinations over all three columns),
  * evaluated against the raw line BEFORE any InternalRow materializes,
  * with fully-handled predicates dropped from the post-scan residual.
  * Parsing matches
  * `TextTables.parseManifest` byte-for-byte (lower-hex digest, trimmed
  * path, `/`-basename) — ManifestSourceSpec pins the two against each
  * other.
  */
class ManifestDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "manifest"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ManifestDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ManifestTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

/** Write side: each task renders its partition's (checksum, file) rows
  * back to manifest lines in one `part-<pid>.manifest` file (64-char
  * lower-hex digest + two spaces + path — the exact fixed-width format
  * the read side and the reference's checksum_lib parse), then commits
  * by renaming from a task-attempt staging name — the standard
  * write-task protocol, so failed/speculative attempts never surface. A
  * rename the file system refuses fails the task. Tasks open the file
  * system from the session's Hadoop conf, broadcast once per write.
  */
private class ManifestWriteBuilder(path: String, schema: StructType)
    extends org.apache.spark.sql.connector.write.WriteBuilder {
  import org.apache.spark.sql.connector.write._
  require(schema.fieldNames.take(2).sameElements(Array("checksum", "file")),
    s"manifest write needs (checksum, file [, ...]) columns, got " +
      schema.fieldNames.mkString(","))
  override def build(): Write = new Write {
    private val conf = Storage.taskConf(SparkSession.active)
    override def toBatch: BatchWrite = new BatchWrite {
      override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
        new ManifestWriterFactory(path, conf)
      override def commit(messages: Array[WriterCommitMessage]): Unit = ()
      override def abort(messages: Array[WriterCommitMessage]): Unit = ()
    }
  }
}

private class ManifestWriterFactory(path: String,
    conf: Broadcast[org.apache.spark.util.SerializableConfiguration])
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  import org.apache.spark.sql.connector.write._
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val fs = new Path(path).getFileSystem(conf.value.value)
      private val staged = new Path(path, s".part-$partitionId-$taskId.manifest.inprogress")
      private val out = fs.create(staged, true)
      private val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"))
      override def write(r: InternalRow): Unit = {
        val checksum = r.getUTF8String(0).toString.toLowerCase(java.util.Locale.ROOT)
        require(checksum.length == 64, s"not a 64-hex digest: $checksum")
        w.write(checksum); w.write("  "); w.write(r.getUTF8String(1).toString)
        w.write("\n")
      }
      override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
        w.close()
        Storage.rename(fs, staged, new Path(path, s"part-$partitionId.manifest"))
        new WriterCommitMessage {}
      }
      override def abort(): Unit = { w.close(); fs.delete(staged, false); () }
      override def close(): Unit = ()
    }
}

object ManifestDataSource {
  val schema: StructType = StructType(Seq(
    StructField("checksum", StringType),
    StructField("file", StringType),
    StructField("basename", StringType)))

  /** Spark's StringType MIN/MAX order is UTF8String's UTF-8 BYTE order
    * (code-point order), not Java String's UTF-16 code-unit order — the
    * two disagree on supplementary-plane characters (surrogates sort
    * high in UTF-16). Pushed partials must fold with the same comparator
    * the un-pushed plan would use, or the two plans can disagree.
    */
  private[sources] def utf8Lt(a: String, b: String): Boolean =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b)) < 0

  import org.apache.spark.sql.sources._

  /** True when the source can evaluate the filter EXACTLY against a parsed
    * manifest line (all three columns are non-null strings, so the
    * supported set is the string-predicate family + boolean combinations).
    * Fully-handled filters are dropped from the post-scan residual — the
    * row never materializes to an InternalRow, which is the entire win:
    * at fleet scale a selective basename/prefix probe over thousands of
    * side-file manifests does no row conversion for non-matching lines.
    */
  private[sources] def supportsFilter(f: Filter): Boolean = f match {
    case EqualTo(a, _: String)          => schema.fieldNames.contains(a)
    case In(a, vs)                      => schema.fieldNames.contains(a) && vs.forall(_.isInstanceOf[String])
    case StringStartsWith(a, _)         => schema.fieldNames.contains(a)
    case StringEndsWith(a, _)           => schema.fieldNames.contains(a)
    case StringContains(a, _)           => schema.fieldNames.contains(a)
    case IsNotNull(a)                   => schema.fieldNames.contains(a)
    case IsNull(a)                      => schema.fieldNames.contains(a)
    case And(l, r)                      => supportsFilter(l) && supportsFilter(r)
    case Or(l, r)                       => supportsFilter(l) && supportsFilter(r)
    case Not(c)                         => supportsFilter(c)
    case _                              => false
  }

  /** Evaluate a pushed filter against one parsed line. */
  private[sources] def evalFilter(f: Filter, checksum: String, file: String,
                                  base: String): Boolean = {
    def v(attr: String): String = attr match {
      case "checksum" => checksum
      case "file"     => file
      case "basename" => base
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    f match {
      case EqualTo(a, value: String)  => v(a) == value
      case In(a, vs)                  => vs.exists(_ == v(a))
      case StringStartsWith(a, p)     => v(a).startsWith(p)
      case StringEndsWith(a, s)       => v(a).endsWith(s)
      case StringContains(a, s)       => v(a).contains(s)
      case IsNotNull(_)               => true // manifest fields never null
      case IsNull(_)                  => false
      case And(l, r)                  => evalFilter(l, checksum, file, base) &&
                                         evalFilter(r, checksum, file, base)
      case Or(l, r)                   => evalFilter(l, checksum, file, base) ||
                                         evalFilter(r, checksum, file, base)
      case Not(c)                     => !evalFilter(c, checksum, file, base)
      case other => throw new IllegalArgumentException(s"unpushable filter $other")
    }
  }

  /** One row from one manifest line, projected to `required`. */
  private[sources] def parseLine(line: String,
                                 required: StructType): InternalRow = {
    val checksum = line.take(64).toLowerCase(java.util.Locale.ROOT)
    val file = line.drop(64).trim
    val base = file.substring(file.lastIndexOf('/') + 1)
    val vals = required.fieldNames.map {
      case "checksum" => UTF8String.fromString(checksum)
      case "file"     => UTF8String.fromString(file)
      case "basename" => UTF8String.fromString(base)
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    new GenericInternalRow(vals.asInstanceOf[Array[Any]])
  }
}

private class ManifestTable(path: String)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  require(path != null, "manifest source needs a load(path)/save(path)")
  override def name(): String = s"manifest($path)"
  override def schema(): StructType = ManifestDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ManifestScanBuilder(path)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new ManifestWriteBuilder(path, info.schema())
}

/** Pushed-down aggregate shapes the manifest reader can serve directly. */
private[sources] sealed trait ManifestAgg
private[sources] case object MAggCountStar extends ManifestAgg
private[sources] final case class MAggMin(column: String) extends ManifestAgg
private[sources] final case class MAggMax(column: String) extends ManifestAgg

private class ManifestScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates
    with SupportsPushDownLimit {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._
  import org.apache.spark.sql.sources.Filter
  private var required: StructType = ManifestDataSource.schema
  private var pushed: Array[Filter] = Array.empty
  private var aggs: Option[Seq[ManifestAgg]] = None
  private var groupCols: Seq[String] = Nil
  private var limit: Option[Int] = None

  /** PARTIAL limit pushdown: the per-file row reader stops after `limit`
    * (filter-surviving) lines — a LIMIT k over a fleet of side-file
    * manifests reads ≤ k lines per file and closes early instead of
    * draining every manifest; Spark applies the global limit
    * (`isPartiallyPushed`). Lines aren't sorted, so top-N stays in
    * Spark (it would have to read the whole file regardless).
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve source column order for a deterministic row layout
    required = StructType(ManifestDataSource.schema.fields
      .filter(f => requiredSchema.fieldNames.contains(f.name)))
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, residual) = filters.partition(ManifestDataSource.supportsFilter)
    pushed = ours
    // evaluation is exact (not a pruning heuristic), so handled filters
    // need no post-scan re-check — only the residual goes back to Spark
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  /** PARTIAL aggregate pushdown (SupportsPushDownAggregates with the
    * default `supportCompletePushDown = false`): COUNT(*) / COUNT(col) /
    * MIN(col) / MAX(col), ungrouped or GROUP BY source columns. Each
    * file partition returns one pre-aggregated row PER GROUP (one row
    * total when ungrouped) and Spark's final aggregate merges the
    * per-file partials — a fleet-wide `count(*)` or a per-prefix
    * `GROUP BY basename` tally over thousands of side-file manifests
    * ships group summaries per file instead of materializing an
    * InternalRow per line. COUNT(col) maps to COUNT(*) because manifest
    * columns are never null; DISTINCT shapes stay in Spark.
    */
  override def pushAggregation(agg: Aggregation): Boolean = {
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 &&
        ManifestDataSource.schema.fieldNames.contains(r.fieldNames.head) =>
        Some(r.fieldNames.head)
      case _ => None
    }
    val gb = agg.groupByExpressions.toSeq.map(colOf)
    if (!gb.forall(_.isDefined)) return false
    val mapped: Seq[Option[ManifestAgg]] = agg.aggregateExpressions.toSeq.map {
      case _: CountStar               => Some(MAggCountStar)
      case c: Count if !c.isDistinct  => colOf(c.column).map(_ => MAggCountStar)
      case m: Min                     => colOf(m.column).map(MAggMin)
      case m: Max                     => colOf(m.column).map(MAggMax)
      case _                          => None
    }
    if (mapped.nonEmpty && mapped.forall(_.isDefined)) {
      aggs = Some(mapped.flatten)
      groupCols = gb.flatten
      true
    } else false
  }

  override def build(): Scan = new ManifestScan(path, aggs match {
    case Some(a) => StructType(
      groupCols.map(c => StructField(c, StringType)) ++
        a.zipWithIndex.map {
          case (MAggCountStar, i) =>
            StructField(s"count_$i", org.apache.spark.sql.types.LongType,
              nullable = false)
          case (MAggMin(c), i) => StructField(s"min_${c}_$i", StringType)
          case (MAggMax(c), i) => StructField(s"max_${c}_$i", StringType)
        })
    case None => required
  }, pushed, aggs, groupCols, if (aggs.isEmpty) limit else None)
}

private class ManifestScan(path: String, required: StructType,
                           pushed: Array[org.apache.spark.sql.sources.Filter],
                           aggs: Option[Seq[ManifestAgg]] = None,
                           groupCols: Seq[String] = Nil,
                           limit: Option[Int] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"ManifestScan path=$path, PushedFilters: [${pushed.mkString(", ")}], " +
      aggs.fold("")(a => s"PushedAggregation: [${a.mkString(", ")}], ") +
      (if (groupCols.isEmpty) ""
       else s"PushedGroupBy: [${groupCols.mkString(", ")}], ") +
      limit.fold("")(l => s"PushedLimit: [$l], ") +
      s"ReadSchema: [${required.fieldNames.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val p = new Path(path)
    val fs = p.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)
    val files =
      if (fs.getFileStatus(p).isDirectory)
        fs.listStatus(p).filter(_.isFile).map(_.getPath.toString)
      else Array(p.toString)
    files.sorted.map(f => ManifestFilePartition(f): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ManifestReaderFactory(Storage.taskConf(SparkSession.active), required, pushed,
      aggs, groupCols, limit)
}

private case class ManifestFilePartition(file: String) extends InputPartition

private class ManifestReaderFactory(
    conf: Broadcast[org.apache.spark.util.SerializableConfiguration],
    required: StructType,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggs: Option[Seq[ManifestAgg]] = None,
    groupCols: Seq[String] = Nil,
    limit: Option[Int] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[ManifestFilePartition].file
    aggs match {
      case Some(a) => new ManifestAggReader(conf, file, pushed, a, groupCols)
      case None => createRowReader(file)
    }
  }

  private def createRowReader(file: String): PartitionReader[InternalRow] = {
    new PartitionReader[InternalRow] {
      private val p = new Path(file)
      private val in = p.getFileSystem(conf.value.value).open(p)
      private val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, "UTF-8"))
      private var current: String = _
      private def passes(line: String): Boolean = {
        if (pushed.isEmpty) true
        else {
          val checksum = line.take(64).toLowerCase(java.util.Locale.ROOT)
          val f = line.drop(64).trim
          val base = f.substring(f.lastIndexOf('/') + 1)
          pushed.forall(ManifestDataSource.evalFilter(_, checksum, f, base))
        }
      }
      private var emitted = 0
      override def next(): Boolean = {
        // pushed limit: stop (and stop READING) after `limit` survivors
        if (limit.exists(emitted >= _)) return false
        current = reader.readLine()
        while (current != null && (current.isEmpty || !passes(current)))
          current = reader.readLine()
        if (current != null) emitted += 1
        current != null
      }
      override def get(): InternalRow =
        ManifestDataSource.parseLine(current, required)
      override def close(): Unit = reader.close()
    }
  }
}

/** Pre-aggregated partials per manifest file: folds COUNT/MIN/MAX over
  * the (filter-surviving) lines without ever materializing a per-line
  * InternalRow — ONE row per group the file contains (one uncondition-
  * ally when ungrouped: the global-aggregate contract needs an empty
  * partial). Spark's final aggregate merges the per-file partials.
  * MIN/MAX over zero surviving lines yield null, which the final
  * aggregate ignores — the same null contract parquet's pushed
  * aggregates follow.
  */
private class ManifestAggReader(
    conf: Broadcast[org.apache.spark.util.SerializableConfiguration],
    file: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    aggs: Seq[ManifestAgg],
    groupCols: Seq[String] = Nil) extends PartitionReader[InternalRow] {

  private final class Acc {
    var count = 0L
    val mins = new Array[String](aggs.size)
    val maxs = new Array[String](aggs.size)
  }

  private lazy val rows: Iterator[InternalRow] = {
    val p = new Path(file)
    val in = p.getFileSystem(conf.value.value).open(p)
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(in, "UTF-8"))
    val groups = new java.util.LinkedHashMap[Seq[String], Acc]()
    if (groupCols.isEmpty) groups.put(Nil, new Acc) // ungrouped: always one partial
    try {
      var line = reader.readLine()
      while (line != null) {
        if (line.nonEmpty) {
          val checksum = line.take(64).toLowerCase(java.util.Locale.ROOT)
          val f = line.drop(64).trim
          val base = f.substring(f.lastIndexOf('/') + 1)
          def value(c: String): String = c match {
            case "checksum" => checksum
            case "file"     => f
            case _          => base
          }
          if (pushed.forall(ManifestDataSource.evalFilter(_, checksum, f, base))) {
            val key = groupCols.map(value)
            var acc = groups.get(key)
            if (acc == null) { acc = new Acc; groups.put(key, acc) }
            acc.count += 1
            var i = 0
            while (i < aggs.size) {
              aggs(i) match {
                case MAggMin(c) =>
                  val v = value(c)
                  if (acc.mins(i) == null || ManifestDataSource.utf8Lt(v, acc.mins(i)))
                    acc.mins(i) = v
                case MAggMax(c) =>
                  val v = value(c)
                  if (acc.maxs(i) == null || ManifestDataSource.utf8Lt(acc.maxs(i), v))
                    acc.maxs(i) = v
                case MAggCountStar => ()
              }
              i += 1
            }
          }
        }
        line = reader.readLine()
      }
    } finally reader.close()
    scala.jdk.CollectionConverters.IteratorHasAsScala(
      groups.entrySet().iterator()).asScala.map { e =>
      val key = e.getKey
      val acc = e.getValue
      val vals: Array[Any] =
        key.map(v => UTF8String.fromString(v): Any).toArray ++
          aggs.zipWithIndex.map {
            case (MAggCountStar, _) => acc.count: Any
            case (MAggMin(_), i) =>
              if (acc.mins(i) == null) null else UTF8String.fromString(acc.mins(i))
            case (MAggMax(_), i) =>
              if (acc.maxs(i) == null) null else UTF8String.fromString(acc.maxs(i))
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
