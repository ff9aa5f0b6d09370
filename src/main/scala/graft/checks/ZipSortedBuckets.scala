package graft.checks

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.{PartitionCoalescer, PartitionGroup, RDD}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.{BinaryExecNode, ColumnarToRowTransition, FileSourceScanExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VerdictCounter
import graft.rules.SpanRule

/** The doc↔reference verdict join for co-bucketed, sorted tables: bucket
  * `i` of the docs table and bucket `i` of the reference table are merged
  * in lockstep, straight off their columnar scans, and the fused kernel
  * ([[VerdictCounter]]) counts each matched pair's violations. The output
  * is `(doc_id, part, n_violations)`, the rows the shuffled-hash-join plan
  * of [[SpanInvariant.withReference]] feeds the same kernel, so the
  * verdict aggregates above it are unchanged.
  *
  * A bucket pair is already co-partitioned and sorted by doc_id, so the
  * join needs no hash map. The merge is chosen when the frame is built,
  * from the inputs' analyzed plans only (no optimizer pass, no job), when
  * all of these hold; otherwise the frame keeps the join:
  *  - each side is a file-source relation under column pruning only
  *    (no Filter, no computed column);
  *  - both are bucketed by exactly `doc_id` (a string) into the same
  *    number of buckets and sorted by `doc_id`, with bucketed reads on;
  *  - every bucket has at most one file on each side (from the relation's
  *    file listing), so a bucket's rows are one sorted run;
  *  - both scans read columnar batches.
  *
  * Semantics are the inner join's: null doc_ids match nothing, a run of
  * equal keys on both sides yields their cross product, and a null
  * `spans` on either side gives a NULL `n_violations`, as
  * `SpanVerdictCount` does. The sort order comes from catalog metadata
  * that nothing re-checks, so a key that goes backwards inside a bucket
  * fails the task with an `IllegalStateException` naming the table path
  * and bucket rather than yielding a wrong verdict.
  */
object ZipSortedBuckets {
  /** Docs-side and reference-side columns the merge reads. */
  private val DocCols = Seq("doc_id", "part", "spans")
  private val RefCols = Seq("doc_id", "spans")

  /** The merged `(doc_id, part, n_violations)` frame, or None when the
    * inputs are not co-bucketed sorted file scans.
    */
  private[checks] def verdictCounts(docs: DataFrame, ref: DataFrame,
      rules: Seq[SpanRule]): Option[DataFrame] = {
    val spark = docs.sparkSession
    for {
      d <- sortedBucketScan(docs, DocCols)
      r <- sortedBucketScan(ref, RefCols)
      if d.buckets == r.buckets &&
        d.plan.outputSet.intersect(r.plan.outputSet).isEmpty
    } yield {
      install(spark)
      val nViolations = AttributeReference("n_violations", IntegerType)()
      GraftBridge.ofRows(spark, ZipSortedBuckets(d.plan, r.plan,
        d.cols(0), d.cols(1), d.cols(2), r.cols(0), r.cols(1), nViolations,
        rules, d.buckets, tasks(spark, d.buckets), d.path, r.path))
    }
  }

  /** Tasks per merge: two per core of Spark's scan parallelism, so a slow
    * task still leaves the cores busy, capped at the bucket count. A
    * derived constant, not a setting: fewer, larger tasks are the point
    * (at 128 buckets on 4 cores, 8 tasks of 16 buckets each).
    */
  private def tasks(spark: SparkSession, buckets: Int): Int =
    math.min(buckets, 2 * GraftBridge.leafNodeDefaultParallelism(spark))

  private final case class SortedBucketScan(plan: LogicalPlan,
      cols: Seq[Attribute], buckets: Int, path: String)

  /** `df` as a pruned, bucketed, sorted, columnar file scan of `names`. */
  private def sortedBucketScan(df: DataFrame, names: Seq[String])
      : Option[SortedBucketScan] = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    def relation(p: LogicalPlan): Option[LogicalRelation] = p match {
      case SubqueryAlias(_, c) => relation(c)
      case Project(list, c)
          if list.forall(_.isInstanceOf[AttributeReference]) => relation(c)
      case l: LogicalRelation if !l.isStreaming => Some(l)
      case _ => None
    }
    val analyzed = df.queryExecution.analyzed
    val cols = names.flatMap(n => analyzed.output.find(a =>
      conf.resolver(a.name, n)))
    for {
      l <- relation(analyzed)
      fs <- Some(l.relation).collect { case h: HadoopFsRelation => h }
      spec <- fs.bucketSpec
      if conf.bucketingEnabled && cols.size == names.size &&
        cols.head.dataType == StringType &&
        spec.bucketColumnNames == Seq("doc_id") &&
        spec.sortColumnNames.headOption.contains("doc_id")
      read = l.output.filter(a => cols.exists(_.exprId == a.exprId))
      if read.size == cols.size && oneFilePerBucket(fs) &&
        conf.wholeStageEnabled && fs.fileFormat.supportBatch(spark,
          StructType(read.map(a =>
            StructField(a.name, a.dataType, a.nullable, a.metadata))))
    } yield SortedBucketScan(Project(read, l), cols, spec.numBuckets,
      fs.location.rootPaths.mkString(","))
  }

  /** Every file carries a bucket id and no bucket has two files. */
  private def oneFilePerBucket(fs: HadoopFsRelation): Boolean = {
    val ids = fs.location.inputFiles.toSeq.map(f =>
      BucketingUtils.getBucketId(new org.apache.hadoop.fs.Path(f).getName))
    ids.forall(_.isDefined) && ids.distinct.size == ids.size
  }

  /** Adds the planner hook to `spark` once. The flagship's sessions
    * (graft.Bench, Scaling, the benchmark, the CLI) are not built by this
    * library, so the frame-building function installs it itself.
    */
  private def install(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraStrategies.contains(ZipSortedBucketsStrategy))
      ex.extraStrategies = ZipSortedBucketsStrategy +: ex.extraStrategies
  }
}

/** Logical merge node: `docs` and `ref` are the pruned scans. */
final case class ZipSortedBuckets(docs: LogicalPlan, ref: LogicalPlan,
    docId: Attribute, part: Attribute, spans: Attribute,
    refId: Attribute, refSpans: Attribute, nViolations: Attribute,
    rules: Seq[SpanRule], buckets: Int, tasks: Int,
    docsPath: String, refPath: String) extends BinaryNode {
  override def left: LogicalPlan = docs
  override def right: LogicalPlan = ref
  override def output: Seq[Attribute] = Seq(docId, part, nViolations)
  override def producedAttributes: AttributeSet = AttributeSet(nViolations)
  override def simpleString(maxFields: Int): String =
    s"$nodeName ${output.mkString("[", ", ", "]")}, buckets=$buckets, " +
      s"rules=${rules.size}"
  override protected def withNewChildrenInternal(newLeft: LogicalPlan,
      newRight: LogicalPlan): ZipSortedBuckets =
    copy(docs = newLeft, ref = newRight)
}

/** Plans [[ZipSortedBuckets]]; every other node is left to Spark. */
object ZipSortedBucketsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case z: ZipSortedBuckets =>
      ZipSortedBucketsExec(BucketBatchesExec(planLater(z.docs)),
        BucketBatchesExec(planLater(z.ref)), z.docId, z.part, z.spans,
        z.refId, z.refSpans, z.nViolations, z.rules, z.buckets, z.tasks,
        z.docsPath, z.refPath) :: Nil
    case _ => Nil
  }
}

/** Marks a scan whose columnar batches [[ZipSortedBucketsExec]] reads as
  * they are. It is a columnar-to-row boundary for Spark's transition
  * rule, so no row conversion is put between the scan and the merge; the
  * merge itself turns batches into rows.
  */
final case class BucketBatchesExec(child: SparkPlan) extends UnaryExecNode
    with ColumnarToRowTransition {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] =
    throw new UnsupportedOperationException(
      "BucketBatches is read by ZipSortedBuckets as batches")

  override protected def withNewChildInternal(newChild: SparkPlan)
      : BucketBatchesExec = copy(child = newChild)
}

/** Physical merge: zips bucket `i` of both scans, then groups consecutive
  * buckets into `tasks` tasks (no shuffle). Requiring both sides clustered
  * by doc_id keeps the bucketed scans (Spark drops bucketing nobody
  * needs) and lets EnsureRequirements confirm they are co-partitioned.
  */
final case class ZipSortedBucketsExec(docs: SparkPlan, ref: SparkPlan,
    docId: Attribute, part: Attribute, spans: Attribute,
    refId: Attribute, refSpans: Attribute, nViolations: Attribute,
    rules: Seq[SpanRule], buckets: Int, tasks: Int,
    docsPath: String, refPath: String) extends BinaryExecNode {
  override def left: SparkPlan = docs
  override def right: SparkPlan = ref
  override def output: Seq[Attribute] = Seq(docId, part, nViolations)
  override def producedAttributes: AttributeSet = AttributeSet(nViolations)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(docId)) :: ClusteredDistribution(Seq(refId)) ::
      Nil
  override def outputPartitioning: Partitioning = UnknownPartitioning(tasks)
  override def simpleString(maxFields: Int): String =
    s"$nodeName ${output.mkString("[", ", ", "]")}, buckets=$buckets, " +
      s"tasks=$tasks, rules=${rules.size}"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMergedBuckets" ->
      SQLMetrics.createMetric(sparkContext, "number of buckets merged"))

  override protected def doExecute(): RDD[InternalRow] = {
    // one RDD partition per bucket
    def batches(p: SparkPlan, table: String): RDD[ColumnarBatch] = {
      val rdd = p match {
        case BucketBatchesExec(s: FileSourceScanExec)
            if s.bucketedScan && s.supportsColumnar => s.executeColumnar()
        case other => throw new IllegalStateException(
          s"ZipSortedBuckets: $table is not read as a bucketed columnar " +
            s"scan:\n$other")
      }
      if (rdd.getNumPartitions != buckets) throw new IllegalStateException(
        s"ZipSortedBuckets: $table has ${rdd.getNumPartitions} partitions, " +
          s"not $buckets buckets")
      rdd
    }
    def ord(p: SparkPlan, a: Attribute) =
      p.output.indexWhere(_.exprId == a.exprId)
    val dOrd = Seq(docId, part, spans).map(ord(docs, _))
    val rOrd = Seq(refId, refSpans).map(ord(ref, _))
    val dCopy = new RowCopier(dOrd, Seq(docId, part, spans).map(_.dataType))
    val rCopy = new RowCopier(rOrd, Seq(refId, refSpans).map(_.dataType))
    val counter = VerdictCounter(spans.dataType, rules)
    val numOutputRows = longMetric("numOutputRows")
    val numMergedBuckets = longMetric("numMergedBuckets")
    val (dPath, rPath) = (docsPath, refPath)
    batches(docs, docsPath)
      .zipPartitions(batches(ref, refPath))((d, r) => Iterator.single((d, r)))
      .mapPartitionsWithIndex { (bucket, pair) =>
        val (d, r) = pair.next()
        numMergedBuckets += 1
        new BucketMerge(
          new SortedBucket(d, dOrd, dCopy, dPath, bucket),
          new SortedBucket(r, rOrd, rCopy, rPath, bucket),
          counter, numOutputRows)
      }
      .coalesce(tasks, shuffle = false, Some(ConsecutiveBuckets))
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan,
      newRight: SparkPlan): ZipSortedBucketsExec =
    copy(docs = newLeft, ref = newRight)
}

/** Groups consecutive buckets, an equal count per task; the default
  * coalescer groups by preferred host, which on one host is arbitrary.
  */
private object ConsecutiveBuckets extends PartitionCoalescer
    with Serializable {
  override def coalesce(n: Int, parent: RDD[_]): Array[PartitionGroup] = {
    val ps = parent.partitions
    Array.tabulate(n) { i =>
      val g = new PartitionGroup()
      g.partitions ++= ps.slice(i * ps.length / n, (i + 1) * ps.length / n)
      g
    }
  }
}

/** Copies the merge's columns (`cols`, in order) of one batch row. The
  * projection is built once per task, on first use, and serves all the
  * task's buckets.
  */
private final class RowCopier(cols: Seq[Int], types: Seq[DataType])
    extends Serializable {
  @transient private lazy val projection = UnsafeProjection.create(
    cols.zip(types).map { case (o, t) => BoundReference(o, t, true) })
  def apply(row: InternalRow): InternalRow = projection(row).copy()
}

/** One side of one bucket, read row by row off its batches, skipping null
  * keys. `cols(0)` is the key; the reader reuses its batch memory, so
  * values of the current row are valid only until the side moves to the
  * next batch.
  */
private final class SortedBucket(batches: Iterator[ColumnarBatch],
    cols: Seq[Int], copier: RowCopier, table: String, bucket: Int) {
  private var batch: ColumnarBatch = _
  private var keys: ColumnVector = _
  private var rows = 0
  private var row = -1
  /** Key of the current row; null once the bucket is exhausted. */
  var key: UTF8String = _

  /** Moves to the next row with a non-null key, or past the end. */
  def next(): Unit = {
    var prev = key
    while (true) {
      row += 1
      while (row >= rows) {
        if (prev != null) prev = prev.clone() // outlives its batch
        if (!batches.hasNext) { key = null; return }
        batch = batches.next()
        rows = batch.numRows()
        keys = batch.column(cols.head)
        row = 0
      }
      if (!keys.isNullAt(row)) {
        val k = keys.getUTF8String(row)
        if (prev != null && prev.compareTo(k) > 0)
          throw new IllegalStateException(
            s"ZipSortedBuckets: $table bucket $bucket is not sorted by " +
              s"doc_id: '$k' follows '$prev'")
        key = k
        return
      }
    }
  }

  /** The current row's key run ends here, known without leaving the
    * batch: the next row is in this batch and has another non-null key.
    */
  def runEndsHere: Boolean = row + 1 < rows && !keys.isNullAt(row + 1) &&
    !keys.getUTF8String(row + 1).equals(key)

  def string(i: Int): UTF8String = {
    val c = batch.column(cols(i))
    if (c.isNullAt(row)) null else c.getUTF8String(row)
  }

  def array(i: Int): ArrayData = {
    val c = batch.column(cols(i))
    if (c.isNullAt(row)) null else c.getArray(row)
  }

  /** Copies of the rows of the current key's run; leaves the side on the
    * first row after it.
    */
  def takeRun(): ArrayBuffer[InternalRow] = {
    val k = key.clone()
    val run = ArrayBuffer.empty[InternalRow]
    var more = true
    while (more) {
      run += copier(batch.getRow(row))
      next()
      more = k.equals(key)
    }
    run
  }
}

/** Inner merge join of one bucket pair, emitting `(doc_id, part,
  * n_violations)`. A key present once on each side (the common case) is
  * counted straight off the batches; a run of equal keys is copied first
  * and yields the cross product.
  */
private final class BucketMerge(d: SortedBucket, r: SortedBucket,
    counter: VerdictCounter, numOutputRows: SQLMetric)
    extends Iterator[InternalRow] {
  private val out = new UnsafeRowWriter(3)
  d.next()
  r.next()
  private var pending: Iterator[InternalRow] = Iterator.empty
  private var current: InternalRow = _
  private var ready = false

  private def emit(id: UTF8String, part: UTF8String, spans: ArrayData,
      refSpans: ArrayData): InternalRow = {
    out.reset()
    out.zeroOutNullBytes()
    out.write(0, id)
    if (part == null) out.setNullAt(1) else out.write(1, part)
    if (spans == null || refSpans == null) out.setNullAt(2)
    else out.write(2, counter.count(spans, refSpans))
    numOutputRows += 1
    out.getRow
  }

  private def fetch(): Boolean = {
    if (pending.hasNext) { current = pending.next(); return true }
    while (d.key != null && r.key != null) {
      val c = d.key.compareTo(r.key)
      if (c < 0) d.next()
      else if (c > 0) r.next()
      else if (d.runEndsHere && r.runEndsHere) {
        current = emit(d.key, d.string(1), d.array(2), r.array(1))
        d.next()
        r.next()
        return true
      } else {
        val ds = d.takeRun()
        val rs = r.takeRun()
        pending = for (a <- ds.iterator; b <- rs.iterator) yield emit(
          a.getUTF8String(0), if (a.isNullAt(1)) null else a.getUTF8String(1),
          if (a.isNullAt(2)) null else a.getArray(2),
          if (b.isNullAt(1)) null else b.getArray(1))
        current = pending.next()
        return true
      }
    }
    false
  }

  override def hasNext: Boolean = {
    if (!ready) ready = fetch()
    ready
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    ready = false
    current
  }
}
