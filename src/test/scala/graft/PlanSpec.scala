package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.checks.{Referential, SpanInvariant}
import graft.data.Interleaved
import graft.operators.Relational
import graft.rules.RuleCompiler

/** Physical-plan audits: the plan shape is part of the contract at 100 TB
  * — filters/projections must reach the scan, dimension joins must
  * broadcast, the invariant join must never broadcast its fact-sized
  * reference side, and hot projections must stay inside whole-stage
  * codegen.
  */
class PlanSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}

  /** Every path from `p` down to a scan passes through an Aggregate —
    * a serial step guarded by it only ever sees aggregated
    * (metadata-scale) rows, never raw doc rows.
    */
  private def aggGuarded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case l if l.children.isEmpty => false
    case n => n.children.forall(aggGuarded)
  }

  /** The physical plan with AQE OFF: `collect()` cannot see inside the
    * AdaptiveSparkPlanExec wrapper, which silently turns shuffle/join
    * audits into no-ops.
    */
  private def staticPlan(df: => DataFrame)
      : org.apache.spark.sql.execution.SparkPlan = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try df.queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("filter + projection push down into the parquet scan") {
    val p = physical(Relational.filterProject(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,45.0)"), p)
    // column pruning: the scan must not read unprojected columns
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("l_shipdate"), p)
  }

  test("dimension joins broadcast (customer, media catalog)") {
    assert(physical(Relational.joinBroadcast(spark, dir))
      .contains("BroadcastHashJoin"))
    val documents = Tables.documents(spark, dir)
    val anti = physical(Referential.dangling(
      Interleaved.docs(documents), Interleaved.mediaCatalog(documents)))
    assert(anti.contains("BroadcastHashJoin") &&
      anti.contains("LeftAnti"), anti)
  }

  test("invariant join never broadcasts the fact-sized reference side") {
    val documents = Tables.documents(spark, dir)
    val p = physical(SpanInvariant.verdicts(
      Interleaved.docs(documents), Interleaved.referenceSpans(documents)))
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("co-bucketed sorted inputs: perPartition merges buckets — no " +
      "hash join, the only Exchange is the aggregate's") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import graft.checks.{Validation, ZipSortedBucketsExec}
    val documents = Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zip")
    val docs = bucketedTable(Interleaved.docs(documents), "ps_zip_docs", 8,
      tmp)
    val ref = bucketedTable(Interleaved.referenceSpans(documents),
      "ps_zip_ref", 8, tmp)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = Validation.perPartition(docs, ref)
      val plan = df.queryExecution.executedPlan
      val zips = plan.collect { case z: ZipSortedBucketsExec => z }
      assert(zips.size === 1, plan)
      assert(plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty, plan)
      val exchanges = plan.collect { case e: Exchange => e }
      assert(exchanges.size === 1 &&
        exchanges.head.toString.contains("hashpartitioning(part"), plan)
      // the merge's SQL metrics say which path ran, with no extra pass
      val docCount = df.collect().map(_.getAs[Long]("docs")).sum
      assert(docCount === documents.count())
      assert(zips.head.metrics("numMergedBuckets").value === 8)
      assert(zips.head.metrics("numOutputRows").value === docCount)
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("two files in one bucket: perPartition falls back to the " +
      "ShuffledHashJoin, same answers") {
    import graft.checks.Validation
    val documents = Tables.documents(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft-zip2")
    val half = col("idnum") % 2 === 0
    val (d, r) = (Interleaved.docs(documents),
      Interleaved.referenceSpans(documents))
    bucketedTable(d.filter(half), "ps_zip2_docs", 8, tmp)
    bucketedTable(r.filter(half), "ps_zip2_ref", 8, tmp)
    assert(physical(Validation.perPartition(spark.table("ps_zip2_docs"),
      spark.table("ps_zip2_ref"))).contains("ZipSortedBuckets"))
    // a second bucketed append: two files in (at least) one bucket
    val docs = bucketedTable(d.filter(!half), "ps_zip2_docs", 8, tmp,
      "append")
    val ref = bucketedTable(r.filter(!half), "ps_zip2_ref", 8, tmp,
      "append")
    val p = physical(Validation.perPartition(docs, ref))
    assert(p.contains("ShuffledHashJoin") && !p.contains("ZipSortedBuckets"),
      p)
    val plain = Validation.perPartition(
      spark.read.parquet(tmp.resolve("ps_zip2_docs").toString),
      spark.read.parquet(tmp.resolve("ps_zip2_ref").toString))
    assert(Validation.perPartition(docs, ref).collect().toSet ===
      plain.collect().toSet)
    assert(plain.collect().map(_.getAs[Long]("docs")).sum ===
      documents.count())
  }

  test("scalar plans codegen; HOF projections fall back (documented)") {
    // simple scalar/aggregate plans stay inside whole-stage codegen
    val agg = Tables.lineitem(spark, dir).groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")))
    assert(agg.queryExecution.executedPlan
      .execute() != null) // force planning
    // HOF lambda projections (rule compiler, zip-based invariant) are NOT
    // codegen'd by Spark — which is exactly why the hot invariant path
    // uses the custom SpanMismatchIndices expression (see FunctionsSpec
    // equivalence test and BENCH.md).
    val documents = Tables.documents(spark, dir)
    val df = Interleaved.docs(documents).select(col("doc_id"),
      RuleCompiler.violations(col("spans"), RuleCompiler.docRules)
        .as("violations"))
    assert(physical(df).contains("Project"))
  }

  test("global top-k plans as TakeOrderedAndProject, not a full sort") {
    val p = physical(Relational.sortLimit(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("schema-compiler plan: one parse, no inferred-filter duplication") {
    // the staged withViolations path must parse the JSON exactly once per
    // row, and InferFiltersFromGenerate must stay excluded — it would
    // inline the whole violations tree into a scan-level filter and run
    // the schema eval 2-3x per row (BENCH.md round-2 note 5)
    val plan = physical(
      SparkEntry.queries("v_json_schema")(spark, "/root/testdata/sf0.001"))
    val parses = "parseJson|parse_json".r.findAllIn(plan).length
    assert(parses === 1, s"parse_json occurrences: $parses\n$plan")
    assert(!plan.contains("Filter (size("), plan.take(500))
  }

  test("bench plans drop a trailing global sort; semantic sorts survive") {
    val q14 = physical(
      SparkEntry.benchQueries("q14_parse_json")(spark, dir))
    assert(!q14.contains("Sort "), q14.take(400))
    // q8's sort+limit is the semantics: still TakeOrderedAndProject
    val q8 = physical(SparkEntry.benchQueries("q8_sort_limit")(spark, dir))
    assert(q8.contains("TakeOrderedAndProject"), q8.take(400))
  }

  test("stored-table sweeps scan only the persisted parquet — the " +
      "MinHash and chunking pipelines are absent from the stored plans") {
    import graft.operators.{Clusters, TextOps}
    val edges = Clusters.storedPairEdges(spark, dir)
    assert(edges.inputFiles.nonEmpty &&
      edges.inputFiles.forall(_.contains("-edges")),
      edges.inputFiles.take(3).mkString(", "))
    val es = edges.queryExecution.optimizedPlan.toString.toLowerCase
    for (node <- Seq("minhash", "xxhash", "split", "explode"))
      assert(!es.contains(node), s"stored edge plan contains $node:\n$es")
    // the chunk-granularity sweep edges derive from the stored chunk
    // table: no re-chunking (md5 windows), no words split, no explode
    val chunkEdges = TextOps.chunkDupsFromChunks(
      TextOps.storedChunks(spark, dir))
    assert(chunkEdges.inputFiles.nonEmpty &&
      chunkEdges.inputFiles.forall(_.contains("-chunks")),
      chunkEdges.inputFiles.take(3).mkString(", "))
    val cs = chunkEdges.queryExecution.optimizedPlan.toString.toLowerCase
    for (node <- Seq("md5", "split", "posexplode"))
      assert(!cs.contains(node),
        s"stored chunk-dup plan contains $node:\n$cs")
  }

  test("attribution equi-joins on (user, bucket) — never a nested loop") {
    val p = staticPlan(Relational.attribution(spark, dir)).toString
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"),
      p.take(600))
    assert(p.contains("Join"), p.take(400))
  }

  test("catalog routing is shuffle-free (broadcast patterns, no exchange)") {
    val plan = physical(graft.rules.Catalog.catalogMatch(
      graft.rules.Catalog.docPaths(spark, dir)))
    assert(!plan.contains("Exchange"), plan.take(600))
  }

  test("no shuffle exchange carries an array payload in the LSH paths") {
    // VERDICT r2: cosineDupsLsh shuffled ~108 embedding copies per vector
    // through the probe explode, and the MinHash verify join could shuffle
    // the whole shingle corpus if AQE declined to broadcast. The contract
    // now: only small scalar keys (ids, table/sig ints, band hashes) ever
    // enter a shuffle; arrays (embeddings, shingle sets, words) re-attach
    // via broadcast-built joins on the candidate-bounded side. AQE is
    // disabled for the audit so the static plan shows every exchange.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.ArrayType
    // candidate frames are now size-gate MATERIALIZED (cached), so the
    // walk must recurse into each InMemoryRelation's cached plan or the
    // candidate-generation exchanges would silently fall out of scope
    def allShuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p.collect {
      case e: ShuffleExchangeExec => Seq(e)
      case s: InMemoryTableScanExec => allShuffles(s.relation.cachedPlan)
    }.flatten
    def shuffledArrays(df: => DataFrame): Seq[String] = {
      // drop previously cached candidate frames so the cached plans are
      // re-planned under the AQE-off audit (the cache manager would
      // otherwise resurface a plan cached by an earlier AQE-on run)
      graft.operators.Candidates.releaseAll(blocking = true)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try allShuffles(df.queryExecution.executedPlan)
        .flatMap(_.output.filter(_.dataType.isInstanceOf[ArrayType])
          .map(_.name)).distinct
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    import graft.operators.{Dedup, Similarity, TextOps}
    for ((name, cols) <- Seq(
        "cosineDupsLsh" -> shuffledArrays(Similarity.cosineDupsLsh(spark, dir)),
        "knnLsh" -> shuffledArrays(Similarity.knnLsh(spark, dir)),
        "knnIvf" -> shuffledArrays(Similarity.knnIvf(spark, dir)),
        "minhashCandidates" -> shuffledArrays(Dedup.minhashCandidates(spark, dir)),
        "incrDedup" -> shuffledArrays(Dedup.incrDedup(spark, dir)),
        "incrCosineDups" -> shuffledArrays(Similarity.incrCosineDups(spark, dir)),
        "simhashPairs" -> shuffledArrays(Dedup.simhashPairs(spark, dir))))
      assert(cols.isEmpty, s"$name shuffles array columns: $cols")
    // the keep-sweep's only shuffle is the digest-keyed dedup agg —
    // document text (and the staged words array) must never cross the
    // wire; the signals+filter run at scan speed before the exchange
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val keepCols =
      try TextOps.pipelineKeep(spark, dir).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e.output.map(_.name) }
        .flatten.distinct
      finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert(!keepCols.exists(c => c == "text" || c == "w"),
      s"pipelineKeep shuffles document payloads: $keepCols")
    graft.operators.Candidates.releaseAll(blocking = true)
  }

  test("candidate size gate: broadcast under it, plain join above it, " +
      "same results") {
    // VERDICT r3 task 2: the candidate-set broadcast must be a gated
    // CHOICE, not an unconditional hint. Under the gate (default) the
    // re-attach joins carry a broadcast hint; with the gate forced to 0
    // every hint disappears (the planner is free to pick a candidate-
    // bounded shuffle join — or broadcast on its own size estimate,
    // which is exactly the point: the decision is size-based, never
    // forced) and the results are identical.
    import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint}
    import graft.operators.{Candidates, Dedup, Similarity}
    def joinHints(df: DataFrame): Seq[JoinHint] =
      df.queryExecution.optimizedPlan.collect { case j: Join => j.hint }
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    Candidates.releaseAll(blocking = true)
    val smallCos = Similarity.cosineDupsLsh(spark, dir)
    assert(joinHints(smallCos).exists(_ != JoinHint.NONE),
      "expected broadcast hints under the gate")
    val smallCosRows = rows(smallCos)
    val smallMinhashRows = rows(Dedup.minhashCandidates(spark, dir))
    Candidates.releaseAll(blocking = true)
    sys.props("graft.candidates.gate") = "0"
    try {
      val largeCos = Similarity.cosineDupsLsh(spark, dir)
      assert(joinHints(largeCos).forall(_ == JoinHint.NONE),
        s"gate=0 must drop every join hint: ${joinHints(largeCos)}")
      assert(rows(largeCos) === smallCosRows)
      assert(rows(Dedup.minhashCandidates(spark, dir))
        === smallMinhashRows)
    } finally {
      sys.props.remove("graft.candidates.gate")
      Candidates.releaseAll(blocking = true)
    }
  }

  test("packShards: the global-order window only ever sees bucket " +
      "subtotals, never document rows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val plan = graft.operators.Mix.packShards(spark, dir)
      .queryExecution.optimizedPlan
    val wins = plan.collect { case w: LWindow => w }
    val (global, local) = wins.partition(_.partitionSpec.isEmpty)
    // exactly one deliberately-serial window (the offsets cumsum) and
    // one parallel bucket-partitioned window over the doc rows
    assert(global.size == 1 && local.size == 1, wins.toString)
    // every path from the serial window down to a scan passes through
    // the bucket AGGREGATE: the serial step only ever sees
    // corpus/bucketSize subtotal rows, never a document row
    assert(aggGuarded(global.head.child), global.head.toString)
  }

  test("trainOrder: the serial window sees bucket counts only; " +
      "stratifiedSample has NO global-order window at all") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val ord = graft.operators.Mix.trainOrder(spark, dir)
      .queryExecution.optimizedPlan
    val (oGlobal, oLocal) = ord.collect { case w: LWindow => w }
      .partition(_.partitionSpec.isEmpty)
    assert(oGlobal.size == 1 && oLocal.size == 1, ord.toString)
    assert(aggGuarded(oGlobal.head.child), oGlobal.head.toString)
    // every stratifiedSample window partitions — the whole point is
    // that no single task ever holds a full stratum
    val strat = graft.operators.Mix.stratifiedSample(spark, dir)
      .queryExecution.optimizedPlan
    val sWins = strat.collect { case w: LWindow => w }
    assert(sWins.nonEmpty, strat.toString)
    val (sGlobal, sPerStratum) = sWins.partition(_.partitionSpec.isEmpty)
    assert(sGlobal.isEmpty, sWins.toString)
    // and none of the doc-row windows partitions by the stratum ALONE
    // (lang-only partitioning is the single-task-per-stratum trap);
    // the metadata cumsum over (lang, bucket) cells is agg-guarded
    sPerStratum.foreach { w =>
      if (w.partitionSpec.size == 1) assert(aggGuarded(w.child), w.toString)
    }
  }

  test("repeatMix is scan-speed: no shuffle upstream of the " +
      "presentation sort, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val exec = staticPlan(graft.operators.Mix.repeatMix(spark, dir))
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, exec.toString)
    assert(exec.collectFirst {
      case j if j.nodeName.toLowerCase.contains("join") => j }.isEmpty,
      exec.toString)
  }

  test("qualityGate: the serial window sees per-cell aggregates only; " +
      "doc rows pass only a (score, bucket)-partitioned window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val p = graft.operators.Mix.qualityGate(spark, dir)
      .queryExecution.optimizedPlan
    val (global, local) = p.collect { case w: LWindow => w }
      .partition(_.partitionSpec.isEmpty)
    assert(global.size == 1 && aggGuarded(global.head.child),
      global.toString)
    assert(local.nonEmpty && local.forall(_.partitionSpec.size == 2),
      local.toString)
  }

  test("asofJoin: no join operator at all — union + keyed window, " +
      "bounded shuffles") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = graft.operators.Relational.asofJoin(spark, dir)
      .queryExecution
    // the naive l.ts >= r.ts theta-join would be a Join node (and a
    // BroadcastNestedLoopJoin physically — quadratic per user); the
    // composition has NO join anywhere, and every window is keyed
    val opt = qe.optimizedPlan
    assert(opt.collectFirst { case j: Join => j }.isEmpty, opt.toString)
    val wins = opt.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      opt.toString)
    // physically: snapshot pre-agg + window partitioning + the
    // presentation sort's range exchange, nothing else (string count —
    // collect() does not descend into the AQE wrapper)
    val exchanges = "Exchange (hash|range)partitioning".r
      .findAllIn(qe.executedPlan.toString).size
    assert(exchanges <= 3, qe.executedPlan.toString)
  }

  test("rangeJoin is an equi-join on the time bucket — no nested " +
      "loop, no cartesian product") {
    val p = graft.operators.Relational.rangeJoin(spark, dir)
      .queryExecution.executedPlan.toString
    // the naive ts-in-[start,end) predicate has no equi key and plans
    // a BroadcastNestedLoopJoin; the bucketized form must not
    assert(!p.contains("NestedLoop") && !p.contains("Cartesian"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("ShuffledHashJoin")
      || p.contains("SortMergeJoin"), p)
  }

  test("sampleMix is a scan-speed filter: no shuffle, no join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.SortExec
    val exec = staticPlan(graft.operators.Mix.sampleMix(spark, dir))
    // the only exchange allowed is the final presentation orderBy's
    // range partitioning; nothing upstream of it may shuffle
    val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size <= 1, exec.toString)
    assert(exec.collectFirst {
      case j if j.nodeName.toLowerCase.contains("join") => j }.isEmpty,
      exec.toString)
  }

  test("partial aggregation happens map-side before the shuffle") {
    val p = physical(
      Tables.lineitem(spark, dir).groupBy(col("l_returnflag"))
        .agg(sum(col("l_quantity"))))
    // partial_sum before the exchange, final sum after
    assert(p.contains("partial_sum"), p)
  }
}
