package graft.perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.LogicalRDD

import graft.BenchFlags
import graft.io.{Materialized, ModelStore}

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --result <file> [--record <file>]`.
  *
  * Untraced runs report the end-to-end metrics; traced runs register the
  * listeners of [[Trace]] and report the per-layer metrics. The result is
  * written to `--result` as one JSON object; `perfbench/run.py` builds the
  * program, launches this, and prints that object.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, result: File, record: Option[File])

  /** One timed operation and what its checks found. */
  final case class Op(name: String, seconds: Double, cpu: Double, gcMs: Long, rows: Long,
      failures: Seq[String])

  /** What a workload hands back to be reported. */
  final case class Outcome(ops: Seq[Op], setupSeconds: Seq[Double], metrics: Seq[Metric],
      notes: Seq[(String, String)])

  val Workloads = Seq("etl_refresh", "ops_mix")

  /** An `ops_mix` run sets up this many times and reports the median. An
    * `etl_refresh` set-up is a backfill, the largest cost of its run, and
    * runs once.
    */
  val OpsMixSetups = 2

  /** Ops (refreshes, or `ops_mix` passes) a run measures at least,
    * whatever `--seconds`; the metrics report their median.
    */
  val MinOps = 2

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      new File(need("work")), new File(need("result")), m.get("record").map(new File(_)))
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.GraftExtensions)
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "spark-warehouse").getPath)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress to standard error, stamped with seconds since JVM start. */
  def phase(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.2f s  $msg")

  /** Time `body` and the process CPU and GC it used. */
  def timed[T](body: => T): (T, Double, Double, Long) = {
    val g0 = Probe.gcMillis()
    val c0 = Probe.cpuSeconds()
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9, Probe.cpuSeconds() - c0, Probe.gcMillis() - g0)
  }

  /** The start canary, read once the fixtures are written: fixture
    * generation is the run's first Spark work and warms the JIT, so the
    * canary then reads the host rather than a cold JVM.
    */
  @volatile private var canaryStart = 0.0

  private def fixturesWritten(spark: SparkSession, what: String): Unit = {
    canaryStart = Probe.canary(spark)
    phase(s"$what; canary $canaryStart s")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cores = Runtime.getRuntime.availableProcessors
    o.work.mkdirs()
    val spark = session(cores, o.work)
    phase("session ready")
    val exit = try {
      val started = System.nanoTime()
      val out = o.workload match {
        case "ops_mix" => runOps(spark, o, cores)
        case _ => runEtl(spark, o, cores)
      }
      phase("measured")
      val canaryEnd = Probe.canary(spark)
      report(o, out, cores, canaryStart, canaryEnd, (System.nanoTime() - started) / 1e9)
      0
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(exit)
  }

  /** Every op counts in the metrics. Ops that match `graft.BenchFlags`'
    * steal signature, and the contention flag, go into the run record
    * only, as `graft.Bench` flags them.
    */
  private def report(o: Opts, out: Outcome, cores: Int, canaryStart: Double,
      canaryEnd: Double, runSeconds: Double): Unit = {
    val ops = out.ops
    val walls = ops.zipWithIndex.map { case (op, i) => s"${op.name}#$i" -> op.seconds }
    val suspects = BenchFlags.stealSuspects(walls,
      walls.zip(ops).map { case ((k, _), op) => k -> op.cpu }.toMap,
      walls.zip(ops).map { case ((k, _), op) => k -> op.gcMs }.toMap)
    val failed = ops.count(_.failures.nonEmpty)
    val times = ops.map(_.seconds)
    val opSeconds = times.sum
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(out.setupSeconds), "s"),
      Metric("op_p50_s", Stats.median(times), "s"),
      Metric("op_p90_s", Stats.quantile(times, 0.9), "s"),
      Metric("ops_per_min", 60.0 * times.size / opSeconds, "1/min"),
      Metric("rows_per_s", ops.map(_.rows).sum / opSeconds, "1/s"),
      Metric("success_ratio", 1.0 - Stats.failRatio(ops.size, failed), "ratio"),
      Metric("cpu_s_per_op", ops.map(_.cpu).sum / ops.size, "s"))
    val metrics = if (o.trace) out.metrics else endToEnd ++ out.metrics
    // the start canary runs in a younger JVM and normally reads slower, so
    // only a slower end canary says the host slowed down during the run
    val contended = canaryEnd > 1.5 * canaryStart ||
      BenchFlags.queriesContended(walls, suspects)
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    } + "\""
    val failures = ops.flatMap(_.failures)
    failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    val result = s"""{"correct": ${failures.isEmpty}, "attempted": ${ops.size}, "failed": $failed, """ +
      "\"metrics\": " + metrics.map(m =>
        s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString("{", ", ", "}") + "}"
    val tail = Stats.tailPercentile(times.size)
    val record = (Seq(
      "workload" -> str(o.workload), "seed" -> o.seed.toString, "trace" -> o.trace.toString,
      "cores" -> cores.toString, "run_s" -> num(runSeconds),
      "canary_start_s" -> num(canaryStart), "canary_end_s" -> num(canaryEnd),
      "contended" -> contended.toString, "steal_suspects" -> suspects.map(str).mkString("[", ",", "]"),
      "samples" -> times.size.toString, "op_s_each" -> times.map(num).mkString("[", ",", "]"),
      "reportable_tail_percentile" -> tail.map(_.toString).getOrElse("null"),
      "setup_s_each" -> out.setupSeconds.map(num).mkString("[", ",", "]"),
      "fail_ratio" -> num(Stats.failRatio(ops.size, failed)),
      "failures" -> failures.take(20).map(str).mkString("[", ",", "]")) ++
      out.notes.map { case (k, v) => k -> str(v) } ++
      endToEnd.map(m => m.name -> num(m.value)))
      .map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
    if (contended) System.err.println(
      s"[perfbench] CONTENDED: canary start $canaryStart s, end $canaryEnd s, " +
        s"${suspects.size} steal-suspect ops; compare this run with care")
    java.nio.file.Files.writeString(o.result.toPath, result + "\n")
    o.record.foreach(f => java.nio.file.Files.writeString(f.toPath, record + "\n"))
  }

  // ---------------------------------------------------------------- ETL

  /** Days of the fact-table span in the ETL fixtures. */
  val EtlFactDays = 66

  private def runEtl(spark: SparkSession, o: Opts, cores: Int): Outcome = {
    val fixtures = new File(o.work, "fixtures").getPath
    val shape = Fixtures.etlShape(o.seed, EtlFactDays)
    val gen = Fixtures.write(spark, fixtures, o.seed, shape)
    val etl = new Etl(fixtures, o.seed, cores, shape, gen)
    val fixtureBytes = Files.parquetFiles(new File(fixtures))._2.toDouble
    fixturesWritten(spark, "fixtures written")

    // set-up: a new session backfills an empty warehouse, then runs one
    // untimed refresh, because the first refresh after a backfill is
    // slower than later ones. Every op checks the whole warehouse, so
    // the set-up checks only each table's outcome.
    val sess = spark.newSession()
    val wh = new File(o.work, "warehouse").getPath
    val (backfilled, setupTime, _, _) = timed(etl.backfill(sess, wh))
    val setupSeconds = Seq(setupTime)
    val reference = etl.fingerprints(sess, wh)
    val bad = etl.failures(backfilled) ++ etl.failures(etl.refresh(sess, wh))
    require(bad.isEmpty, s"set-up failed its checks: ${bad.mkString("; ")}")
    val notes = Seq("fixtures" -> Files.fingerprint(new File(fixtures)),
      "windows" -> etl.windows.toSeq.sortBy(_._1).map { case (t, w) => s"$t ${w.start}..${w.end}" }
        .mkString(", "))
    phase(s"set up: ${setupSeconds.map(t => f"$t%.2f").mkString(", ")} s")
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    if (o.trace) return tracedEtl(sess, etl, o, cores, deadline, wh, setupSeconds, notes)

    val ops = ArrayBuffer.empty[Op]
    var heap = 0.0
    do {
      val (res, t, cpu, gc) = timed(etl.refresh(sess, wh))
      ops += Op(o.workload, t, cpu, gc, etl.rowsLanded, etl.check(sess, wh, res))
      heap = math.max(heap, Probe.liveHeapMb())
    } while (System.nanoTime() < deadline || ops.size < MinOps)
    // refreshing the same days again must leave every table as the
    // backfill left it (the reference's idempotence promise); a change
    // fails the last op
    val now = etl.fingerprints(sess, wh)
    val changed = reference.collect { case (t, fp) if !now.get(t).contains(fp) =>
      s"$t changed across the refreshes: $fp -> ${now.getOrElse(t, "missing")}"
    }
    ops(ops.size - 1) = ops.last.copy(failures = ops.last.failures ++ changed)
    val (files, bytes) = Files.parquetFiles(new File(wh))
    Outcome(ops.toSeq, setupSeconds, Seq(
      Metric("heap_peak_mb", heap, "MB"),
      Metric("stored_bytes_ratio", bytes / fixtureBytes, "ratio"),
      Metric("stored_files", files.toDouble, "count")), notes)
  }

  private def tracedEtl(sess: SparkSession, etl: Etl, o: Opts, cores: Int, deadline: Long,
      wh: String, setupSeconds: Seq[Double], notes: Seq[(String, String)]): Outcome = {
    val trace = new Trace(sess)
    // the concurrent op once, for the overlap ratio
    val concurrentWall = timed(etl.refresh(sess, wh))._2
    trace.clear()
    val passes = ArrayBuffer.empty[Seq[(String, Stats.Span, Try[graft.etl.Pipeline#TableResult])]]
    val ops = ArrayBuffer.empty[Op]
    do {
      val (tables, t, cpu, gc) = timed(etl.sequential(sess, wh))
      passes += tables
      ops += Op(o.workload, t, cpu, gc, etl.rowsLanded,
        tables.collect { case (n, _, scala.util.Failure(e)) => s"$n threw $e" })
    } while (System.nanoTime() < deadline)
    trace.stop()
    val jobs = trace.jobs.toArray(Array.empty[Trace.JobRec]).toSeq
    val tasks = trace.tasks.toArray(Array.empty[Trace.TaskRec]).toSeq
    val execs = trace.executions.toArray(Array.empty[Trace.ExecRec]).map(e => e.id -> e.span).toMap
    val writes = trace.writes.toArray(Array.empty[Trace.WriteRec]).toSeq
    val n = passes.size.toDouble
    // per table, per layer, summed over passes
    val layerMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val tableMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var lineitemWall = 0L
    var lineitemReadGold = 0L
    passes.foreach(_.foreach { case (table, span, _) =>
      val tJobs = jobs.filter(_.group == s"table:$table")
      val tExecIds = tJobs.flatMap(_.executionId).toSet
      val tWrites = writes.filter(w => tExecIds(w.executionId) && execs.contains(w.executionId))
        .map(w => Stats.Write(execs(w.executionId), w.executionId, w.path))
      val byLayer = Stats.layerTimes(span, wh, tWrites,
        tJobs.map(j => Stats.Job(j.span, j.description, j.executionId)))
      byLayer.foreach { case (k, v) => layerMs(k) += v }
      tableMs(table) += span.length
      if (table == "lineitem") {
        lineitemWall += span.length
        lineitemReadGold += byLayer("readback") + byLayer("gold")
      }
    })
    val tableJobs = jobs.filter(_.group.startsWith("table:"))
    val writeIds = writes.map(_.executionId).toSet
    val freeJobs = tableJobs.filterNot(_.executionId.exists(writeIds))
    val listing = freeJobs.filter(j => Stats.isListing(j.description))
    def writeSum(layer: String)(f: Trace.WriteRec => Long): Double =
      writes.filter(w => Stats.writeLayer(wh, w.path).contains(layer)).map(f).sum / n
    val mb = 1024.0 * 1024.0
    val seqMs = tableMs.values.sum / n
    val wallMs = ops.map(_.seconds).sum * 1000
    val layers = Seq(
      Metric("extract.s", layerMs("extract") / 1000.0 / n, "s"),
      Metric("extract.jobs", (freeJobs.size - listing.size) / n, "count"),
      Metric("sinks.s", layerMs("sinks") / 1000.0 / n, "s"),
      Metric("sinks.files", writeSum("sinks")(_.files), "count"),
      Metric("sinks.bytes_mb", writeSum("sinks")(_.bytes) / mb, "MB"),
      Metric("sinks.partitions", writeSum("sinks")(_.partitions), "count"),
      Metric("sinks.rows", writeSum("sinks")(_.rows), "count"),
      Metric("readback.s", layerMs("readback") / 1000.0 / n, "s"),
      Metric("readback.jobs", listing.size / n, "count"),
      Metric("readback.dirs", listing.map(j => Stats.listedDirs(j.description)).sum / n, "count"),
      Metric("gold.s", layerMs("gold") / 1000.0 / n, "s"),
      Metric("gold.files", writeSum("gold")(_.files), "count"),
      Metric("gold.bytes_mb", writeSum("gold")(_.bytes) / mb, "MB"),
      Metric("gold.partitions", writeSum("gold")(_.partitions), "count"),
      Metric("gold.rows", writeSum("gold")(_.rows), "count"),
      Metric("unassigned.s", layerMs("unassigned") / 1000.0 / n, "s"),
      Metric("pipeline.overlap_ratio", seqMs / 1000.0 / concurrentWall, "ratio"),
      Metric("lineitem.readback_gold_share",
        if (lineitemWall == 0) 0.0 else lineitemReadGold.toDouble / lineitemWall, "ratio"))
    Outcome(ops.toSeq, setupSeconds,
      opsLayerZeros ++ Trace.execMetrics(tableJobs, tasks, wallMs.toLong, cores, passes.size) ++
        layers, notes ++ Seq("traced_passes" -> passes.size.toString,
        "traced_concurrent_op_s" -> concurrentWall.toString))
  }

  // ------------------------------------------------------------ ops_mix

  private def runOps(spark: SparkSession, o: Opts, cores: Int): Outcome = {
    val generated = new File(o.work, "fixtures")
    Fixtures.write(spark, generated.getPath, OpsMix.FixtureSeed, Fixtures.opsShape)
    val expectedFile = new File(sys.props.getOrElse("perfbench.dir", "perfbench"),
      "ops_mix_expected.tsv")
    val expected = OpsMix.readExpected(expectedFile)
    val all = graft.SparkEntry.queries
    val sample = OpsMix.sample(expected.keys.filter(all.contains).toSeq)
    fixturesWritten(spark, s"fixtures written; sample of ${sample.size} queries")
    val passes = OpsMix.passes(sample, o.seed)
    var trace: Option[Trace] = None

    // set-up: a new session, an empty shared-table cache and model store,
    // and one pass over the sample, timed as the set-up, which builds the
    // shared tables and models the sample needs. Each set-up reads its own
    // copy of the fixtures: the program memoizes corpus statistics per
    // fixture path for the life of the process (io.CorpusStats and
    // ops.Decomp), so a new path is what makes a set-up pay for them again.
    var sess: SparkSession = null
    var fixtures: String = null
    val setupFailures = ArrayBuffer.empty[String]
    val setupSeconds = (1 to (if (o.trace) 1 else OpsMixSetups)).map { i =>
      sess = spark.newSession()
      if (o.trace) trace = Some(new Trace(sess))
      Materialized.clear()
      ModelStore.rootOverride = Some(new File(o.work, s"models-$i").getPath)
      fixtures = Files.copy(generated, new File(o.work, s"fixtures-$i")).getPath
      passes.next().map { q =>
        val (n, t, _, _) = timed(all(q)(sess, fixtures).count())
        if (n != expected(q).rows) setupFailures += s"$q returned $n rows, expected ${expected(q).rows}"
        t
      }.sum
    }
    require(setupFailures.isEmpty, s"set-up failed its checks: ${setupFailures.mkString("; ")}")
    phase(s"set up: ${setupSeconds.map(t => f"$t%.2f").mkString(", ")} s")
    val setupJobs = trace.map { t => t.drain(); t.jobs.toArray(Array.empty[Trace.JobRec]).toSeq }
    val entries = Materialized.cacheSize
    val trained = ModelStore.trainEvents.size
    trace.foreach(_.clear())

    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val ops = ArrayBuffer.empty[Op]
    var heap = 0.0
    val construct = ArrayBuffer.empty[Double]
    val phases = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val sc = sess.sparkContext
    var i = 0
    // one op is one pass over the sample: a query's time depends on the
    // queries run before it, and the pass sums that out. A pass's time
    // still varies with its order, so a run measures at least MinOps
    // passes and reports their median.
    do {
      val timedQueries = passes.next().map { q =>
        i += 1
        val g0 = Probe.gcMillis()
        val c0 = Probe.cpuSeconds()
        val t0 = System.nanoTime()
        val r = Try {
          if (trace.isEmpty) all(q)(sess, fixtures).count()
          else {
            sc.setLocalProperty("spark.jobGroup.id", s"construct:$i")
            val tc = System.nanoTime()
            val df = all(q)(sess, fixtures)
            construct += (System.nanoTime() - tc) / 1e9
            sc.setLocalProperty("spark.jobGroup.id", s"exec:$i")
            // what Dataset.count runs, kept so its planning phases can be read
            val counted = df.groupBy().count()
            val n = counted.collect()(0).getLong(0)
            counted.queryExecution.tracker.phases.foreach { case (k, v) => phases(k) += v.durationMs }
            sc.setLocalProperty("spark.jobGroup.id", null)
            n
          }
        }
        val t = (System.nanoTime() - t0) / 1e9
        val bad = r.fold(e => Seq(s"$q threw $e"),
          n => if (n == expected(q).rows) Nil else Seq(s"$q returned $n rows, expected ${expected(q).rows}"))
        Op(q, t, Probe.cpuSeconds() - c0, Probe.gcMillis() - g0, r.getOrElse(0L), bad)
      }
      ops += Op("pass", timedQueries.map(_.seconds).sum, timedQueries.map(_.cpu).sum,
        timedQueries.map(_.gcMs).sum, timedQueries.map(_.rows).sum, timedQueries.flatMap(_.failures))
      heap = math.max(heap, Probe.liveHeapMb())
    } while (System.nanoTime() < deadline || ops.size < MinOps)
    // full fingerprints of a seeded few of the sample, so ten seeds check
    // most of it; every query above already checked its row count. A
    // mismatch fails the last op.
    val checked = new scala.util.Random(o.seed).shuffle(sample).take(FingerprintChecks)
    val fpFailures = checked.flatMap { q =>
      Try(Fingerprint.of(all(q)(sess, fixtures))).fold(e => Seq(s"$q threw $e while fingerprinting"),
        fp => expected(q).fingerprint.filter(_ != fp).map(w => s"$q fingerprint $fp, expected $w").toSeq)
    }
    ops(ops.size - 1) = ops.last.copy(failures = ops.last.failures ++ fpFailures)
    val fixtureBytes = Files.parquetFiles(generated)._2.toDouble
    val (modelFiles, modelBytes) = Files.parquetFiles(new File(ModelStore.root))
    // the blocks pinned for this session's shared tables
    val pinnedIds = Materialized.entriesFor(sess).flatMap { case (_, df) =>
      df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
    }.toSet
    val pinned = sc.getRDDStorageInfo.filter(r => pinnedIds(r.id))
    val stored = Seq(
      Metric("heap_peak_mb", heap, "MB"),
      Metric("stored_bytes_ratio",
        (modelBytes + pinned.map(r => r.memSize + r.diskSize).sum) / fixtureBytes, "ratio"),
      Metric("stored_files", (modelFiles + pinned.map(_.numCachedPartitions).sum).toDouble, "count"))
    val notes = Seq("fixtures" -> Files.fingerprint(generated), "sample" -> sample.mkString(","),
      "sample_size" -> sample.size.toString)
    trace match {
      case None => Outcome(ops.toSeq, setupSeconds, stored, notes)
      case Some(t) =>
        t.stop()
        val jobs = t.jobs.toArray(Array.empty[Trace.JobRec]).toSeq
        val tasks = t.tasks.toArray(Array.empty[Trace.TaskRec]).toSeq
        val n = ops.size.toDouble
        val execJobs = jobs.filter(_.group.startsWith("exec:"))
        val buildJobs = setupJobs.getOrElse(Nil).filter(j => BuildSites.exists(j.callSite.contains))
        val layers = Seq(
          Metric("ops.construct_s", construct.sum / n, "s"),
          Metric("ops.construct_jobs", jobs.count(_.group.startsWith("construct:")) / n, "count"),
          Metric("catalyst.analysis_ms", phases("analysis") / n, "ms"),
          Metric("catalyst.optimization_ms", phases("optimization") / n, "ms"),
          Metric("catalyst.planning_ms", phases("planning") / n, "ms"),
          Metric("materialized.build_s", Stats.covered(
            Stats.Span(Long.MinValue / 4, Long.MaxValue / 4), buildJobs.map(_.span)) / 1000.0, "s"),
          Metric("materialized.entries", entries.toDouble, "count"),
          Metric("modelstore.trained", trained.toDouble, "count"))
        Outcome(ops.toSeq, setupSeconds,
          layers ++ Trace.execMetrics(execJobs ++ jobs.filter(_.group.startsWith("construct:")),
            tasks, (ops.map(_.seconds).sum * 1000).toLong, cores, ops.size) ++ etlLayerZeros,
          notes)
    }
  }


  /** Sampled queries whose full fingerprint each `ops_mix` run checks. */
  val FingerprintChecks = 2

  /** Source files whose jobs build shared tables or train models. */
  val BuildSites = Seq("Checkpoints.scala", "Materialized.scala", "ModelStore.scala")

  private val opsLayerNames = Seq(
    "ops.construct_s" -> "s", "ops.construct_jobs" -> "count", "catalyst.analysis_ms" -> "ms",
    "catalyst.optimization_ms" -> "ms", "catalyst.planning_ms" -> "ms",
    "materialized.build_s" -> "s", "materialized.entries" -> "count",
    "modelstore.trained" -> "count")
  private val etlLayerNames = Seq(
    "extract.s" -> "s", "extract.jobs" -> "count", "sinks.s" -> "s", "sinks.files" -> "count",
    "sinks.bytes_mb" -> "MB", "sinks.partitions" -> "count", "sinks.rows" -> "count",
    "readback.s" -> "s", "readback.jobs" -> "count", "readback.dirs" -> "count",
    "gold.s" -> "s", "gold.files" -> "count", "gold.bytes_mb" -> "MB",
    "gold.partitions" -> "count", "gold.rows" -> "count", "unassigned.s" -> "s",
    "pipeline.overlap_ratio" -> "ratio", "lineitem.readback_gold_share" -> "ratio")

  /** Layers a workload does not reach still report, as 0. */
  private def opsLayerZeros = opsLayerNames.map { case (k, u) => Metric(k, 0.0, u) }
  private def etlLayerZeros = etlLayerNames.map { case (k, u) => Metric(k, 0.0, u) }
}
