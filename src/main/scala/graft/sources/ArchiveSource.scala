package graft.sources

import java.util

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.sources.{And, EqualTo, Filter, In, IsNotNull, Not, Or, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.wat.{ClosingIterator, WatReader}

/** What one archive format contributes to the shared archive source: a
  * schema whose first column is the constant-per-archive path, and the
  * decoder of one archive into rows. Everything else — table,
  * planning-time path pruning, column pruning, `max_tasks` batching,
  * streaming offsets, the per-task archive loop and its corruption
  * count — is format-independent and written once below.
  *
  * The formats: [[WatDataSource]], [[WarcDataSource]],
  * [[graft.wat.WetSource]], [[graft.wat.CdxjSource]],
  * [[graft.wat.CdxSource]] (legacy CDX) and [[graft.wat.CcIndexSource]]
  * (the cc-index walk over WARC members).
  */
trait ArchiveFormat extends Serializable {
  def schema: StructType
  final def pathColumn: String = schema.head.name

  /** The rows of one archive as values in [[schema]] order. A column
    * outside `required` may be left null: the decoder skips the work of
    * producing it. `onCorrupt` fires when corruption ends the archive
    * early; the rows read before it are kept.
    */
  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]]
}

/** `spark.read.format(<provider class name>)`, one subclass per format;
  * only `wat` and `warc` register a short name (DataSourceRegister).
  */
abstract class ArchiveDataSource(format: ArchiveFormat)
    extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ArchiveTable(format, ArchiveSource.pathsFrom(properties))
}

/** The source options: `max_tasks` (see [[ArchiveSource.DefaultMaxTasks]])
  * and `max_files_per_trigger` (streaming admission control, 0 =
  * unlimited). Whether an archive is fetched whole or decoded as a
  * stream is not an option: [[WatReader.archiveRecords]] decides it from
  * the archive's length.
  */
final case class ArchiveOptions(
    maxTasks: Int = ArchiveSource.DefaultMaxTasks,
    maxFilesPerTrigger: Int = 0)

object ArchiveSource {

  /** Above this many archives, planning batches several archives per
    * partition (option `max_tasks` overrides): a 5M-archive listing must
    * not create 5M scheduler tasks — driver-side task bookkeeping alone
    * would dwarf the work. Below it, one archive per partition (the
    * reference's one-task-per-WAT unit).
    */
  val DefaultMaxTasks: Int = 100000

  /** load(p1, p2, …) arrives as a JSON array under "paths"; load(p) as
    * "path". Parsed with Jackson — naive comma-splitting would mangle
    * paths containing commas or JSON escapes. A path listed twice is
    * read twice: the product samples archives with replacement (the
    * reference's `random.choices`), so a repeat is work, not noise.
    */
  def pathsFrom(properties: util.Map[String, String]): Seq[String] = {
    val single = Option(properties.get("path")).toSeq
    val multi = Option(properties.get("paths")).toSeq.flatMap { json =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      import scala.jdk.CollectionConverters._
      if (node != null && node.isArray)
        node.elements().asScala.map(_.asText).filter(_.nonEmpty).toSeq
      else Seq.empty
    }
    single ++ multi
  }

  /** Is this filter decidable from the constant-per-partition path
    * column alone? Such predicates prune partitions at PLANNING time —
    * matching archives become input partitions, the rest are never
    * fetched.
    */
  def pathOnly(column: String)(f: Filter): Boolean = f match {
    case EqualTo(`column`, _: String)  => true
    // a null In-list element makes NOT IN three-valued (UNKNOWN for
    // non-matches) — two-valued eval below would wrongly keep rows, so
    // leave those to Spark's post-scan filter
    case In(`column`, vs)              => vs != null && !vs.contains(null)
    case StringStartsWith(`column`, _) => true
    case StringEndsWith(`column`, _)   => true
    case StringContains(`column`, _)   => true
    case IsNotNull(`column`)           => true
    case And(l, r) => pathOnly(column)(l) && pathOnly(column)(r)
    case Or(l, r)  => pathOnly(column)(l) && pathOnly(column)(r)
    case Not(c)    => pathOnly(column)(c)
    case _         => false
  }

  /** Evaluate a [[pathOnly]]-accepted filter against a concrete path. */
  def eval(column: String)(f: Filter, p: String): Boolean = f match {
    case EqualTo(`column`, v: String)  => p == v
    case In(`column`, vs)              => vs.contains(p)
    case StringStartsWith(`column`, v) => p.startsWith(v)
    case StringEndsWith(`column`, v)   => p.endsWith(v)
    case StringContains(`column`, v)   => p.contains(v)
    case IsNotNull(`column`)           => true
    case And(l, r) => eval(column)(l, p) && eval(column)(r, p)
    case Or(l, r)  => eval(column)(l, p) || eval(column)(r, p)
    case Not(c)    => !eval(column)(c, p)
    case _         => true // unreachable: pathOnly gated
  }

  /** ≤ maxTasks archives → one per partition (the reference's
    * one-task-per-archive unit). Above it, contiguous groups of
    * ceil(n / maxTasks) archives share a partition: the scheduler sees
    * at most maxTasks tasks however large the listing, each task still
    * processes archives strictly sequentially, and contiguous grouping
    * keeps neighboring archives (same crawl prefix on CC layouts) in
    * one task for S3 locality.
    */
  def planPartitions(paths: Seq[String],
      maxTasks: Int): Array[InputPartition] =
    if (paths.size <= maxTasks)
      paths.map(p => ArchivePartition(Seq(p))).toArray
    else {
      val perTask = math.ceil(paths.size.toDouble / maxTasks).toInt
      paths.grouped(perTask).map(ArchivePartition(_)).toArray
    }
}

class ArchiveTable(format: ArchiveFormat, paths: Seq[String])
    extends Table with SupportsRead {
  override def name(): String =
    s"${format.getClass.getSimpleName.stripSuffix("$")}(${paths.mkString(",")})"
  override def schema(): StructType = format.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ArchiveScanBuilder(format, paths, ArchiveOptions(
      maxTasks = options.getInt("max_tasks", ArchiveSource.DefaultMaxTasks),
      maxFilesPerTrigger = options.getInt("max_files_per_trigger", 0)))
}

/** Column pruning: a projection that drops a decoded column (WAT's
  * `payload`, WARC's `html`) skips that decode per record — frames are
  * still walked, so row counts are unchanged, but the dominant per-row
  * cost disappears and `Explain` shows the pruned ReadSchema.
  *
  * Filter pushdown: the path column is constant per partition, so any
  * predicate over it alone is decided at PLANNING time. On a
  * million-archive listing, `wat_path LIKE 'CC-MAIN-2023-50%'` turns
  * into a partition prune instead of a full-corpus scan-and-discard.
  */
class ArchiveScanBuilder(format: ArchiveFormat, paths: Seq[String],
    opts: ArchiveOptions = ArchiveOptions())
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = format.schema
  private var accepted: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve source field order regardless of projection order
    val names = requiredSchema.fieldNames.toSet
    required = StructType(format.schema.filter(f => names(f.name)))
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) =
      filters.partition(ArchiveSource.pathOnly(format.pathColumn))
    accepted = ours
    rest // predicates over decoded columns (and anything else) stay post-scan
  }

  override def pushedFilters(): Array[Filter] = accepted

  override def build(): Scan = {
    // streaming treats load() args as globs relisted per batch — the
    // same predicate re-applies to each LISTED file there (filtering the
    // glob string alone could neither prune nor admit correctly)
    val filters = accepted
    val keep = (p: String) =>
      filters.forall(ArchiveSource.eval(format.pathColumn)(_, p))
    new ArchiveScan(format, paths.filter(keep), required, opts, keep)
  }
}

/** One partition = one or more whole archives (each archive is one
  * sequential fetch + gzip stream — never split WITHIN an archive).
  */
case class ArchivePartition(paths: Seq[String]) extends InputPartition

class ArchiveScan(format: ArchiveFormat, paths: Seq[String],
    required: StructType, opts: ArchiveOptions,
    listedFilter: String => Boolean) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The session Hadoop conf (S3A credentials/tuning), broadcast once
    * per scan and shared by every task of its batch or stream. A conf
    * inside the reader factory would ride in — and be deserialized by —
    * every task; executors must not fall back to a bare Configuration
    * either, which would drop every spark.hadoop.* setting.
    */
  private lazy val conf: Broadcast[SerializableConfiguration] = {
    val sc = SparkSession.active.sparkContext
    sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration))
  }

  override def planInputPartitions(): Array[InputPartition] =
    ArchiveSource.planPartitions(paths, opts.maxTasks)

  override def createReaderFactory(): PartitionReaderFactory =
    new ArchiveReaderFactory(format, conf, required)

  /** Corrupt-archive count surfaces in the SQL UI per scan: tolerated
    * corruption must be VISIBLE, not just logged to executor stderr.
    */
  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new CorruptArchivesMetric)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ArchiveMicroBatchStream(format, paths, conf, required, opts,
      listedFilter)
}

/** Offset = how many archives of the (sorted) listing are processed. */
case class ArchiveOffset(n: Int) extends Offset {
  override def json(): String = s"""{"n":$n}"""
}

/** Structured Streaming archive ingestion: each `load(...)` argument is a
  * Hadoop glob relisted per micro-batch (a literal path globs to
  * itself), the union is LEXICOGRAPHICALLY sorted, and the offset is a
  * prefix length of that order — each archive is processed exactly
  * once, new arrivals ride the next batch.
  *
  * Ordering contract (documented, checkpoint-stable): newly landed
  * archives must sort AFTER already-processed ones, which date-stamped
  * CC-style layouts (`CC-MAIN-2023-50/...`) satisfy; an archive that
  * sorts into the processed prefix is never picked up. Offsets survive
  * restarts (prefix length + deterministic relist).
  */
class ArchiveMicroBatchStream(format: ArchiveFormat, globs: Seq[String],
    conf: Broadcast[SerializableConfiguration], required: StructType,
    opts: ArchiveOptions, listedFilter: String => Boolean)
    extends MicroBatchStream with SupportsAdmissionControl {

  // the listing snapshot backing the current (start, end] plan; refreshed
  // by latestOffset so planInputPartitions slices a consistent view
  @volatile private var known: Seq[String] = Seq.empty

  private def listNow(): Seq[String] = {
    val fromGlobs = globs.flatMap { g =>
      val p = new org.apache.hadoop.fs.Path(g)
      val fs = p.getFileSystem(conf.value.value)
      Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath.toString))
        .getOrElse(Seq.empty)
    }
    fromGlobs.distinct.filter(listedFilter).sorted
  }

  override def initialOffset(): Offset = ArchiveOffset(0)

  override def latestOffset(): Offset = {
    val now = listNow()
    // never let the snapshot shrink below what an offset already covers
    // (a transiently unlistable file must not shift the prefix order)
    if (now.size >= known.size) known = now
    ArchiveOffset(known.size)
  }

  /** Admission control: `max_files_per_trigger` caps each micro-batch —
    * a restart facing a 100k-archive backlog drains it in bounded
    * batches (checkpoint progress, sink visibility, retry granularity)
    * instead of planning one monster batch. 0 = unlimited.
    */
  override def getDefaultReadLimit: ReadLimit =
    if (opts.maxFilesPerTrigger > 0) ReadLimit.maxFiles(opts.maxFilesPerTrigger)
    else ReadLimit.allAvailable()

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val unlimited = latestOffset().asInstanceOf[ArchiveOffset]
    limit match {
      case mf: ReadMaxFiles =>
        ArchiveOffset(math.min(unlimited.n,
          start.asInstanceOf[ArchiveOffset].n + mf.maxFiles()))
      case _ => unlimited
    }
  }

  override def reportLatestOffset(): Offset = ArchiveOffset(known.size)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[ArchiveOffset].n
    val e = end.asInstanceOf[ArchiveOffset].n
    known.slice(s, e).map(p => ArchivePartition(Seq(p))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ArchiveReaderFactory(format, conf, required)

  override def deserializeOffset(json: String): Offset = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    val off = ArchiveOffset(node.get("n").asInt())
    // restart path: rebuild the listing so planInputPartitions can slice
    if (known.size < off.n) known = listNow()
    off
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class CorruptArchivesMetric extends CustomSumMetric {
  override def name(): String = "corruptArchives"
  override def description(): String =
    "archives with tolerated corruption (kept records read so far)"
}

case class CorruptArchivesTaskMetric(value: Long) extends CustomTaskMetric {
  override def name(): String = "corruptArchives"
}

/** Holds only the format, the broadcast conf handle and the projection,
  * so it stays a few hundred bytes in every task's binary.
  */
class ArchiveReaderFactory(format: ArchiveFormat,
    conf: Broadcast[SerializableConfiguration], required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val paths = partition.asInstanceOf[ArchivePartition].paths
    val wanted = required.fieldNames.toSet
    val cols = required.fieldNames.map(format.schema.fieldIndex)
    new PartitionReader[InternalRow] {
      // corrupt archives end their own iteration (records read so far
      // are kept) and bump this task metric — aggregated per scan in the
      // SQL UI via CorruptArchivesMetric
      private var corrupt = 0L
      // archives in one partition are read strictly one after another:
      // the flatMap advances to the next path only after the previous
      // iterator is exhausted (which closes its own source), so `active`
      // is the only live one
      private var active: ClosingIterator[Array[Any]] = _
      private val it = paths.iterator.flatMap { p =>
        active = format.decode(p, conf.value.value, wanted,
          onCorrupt = e => { corrupt += 1; WatReader.logCorruptDefault(e) })
        active
      }
      private var row: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          val v = it.next()
          row = new GenericInternalRow(cols.map(v))
          true
        } else false
      override def get(): InternalRow = row
      // Spark calls close() on task end even when the scan stops early
      // (limit pushdown, take, kill): release the in-flight archive's
      // source — on the streaming-decode path that's a real FS/S3
      // handle, and leaking one per early-terminated task exhausts
      // descriptors. ClosingIterator.close() is idempotent.
      override def close(): Unit = if (active != null) active.close()
      override def currentMetricsValues(): Array[CustomTaskMetric] =
        Array(CorruptArchivesTaskMetric(corrupt))
    }
  }
}
