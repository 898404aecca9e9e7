package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: runs one workload against generated
  * inputs and writes `result.json` into the output directory. The
  * Python runner generates the inputs, checks outputs against DuckDB
  * and prints the metrics.
  *
  * Usage: Main <workload> <inputDir> <outDir> <seed> <seconds> <trace 0|1> <cores> <smoke 0|1>
  */
object Main {

  final case class Args(workload: String, in: String, out: String, seed: Long,
                        seconds: Double, trace: Boolean, cores: Int, smoke: Boolean)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1), argv(2), argv(3).toLong, argv(4).toDouble,
      argv(5) == "1", argv(6).toInt, argv(7) == "1")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val tStart = System.nanoTime()
    val spark = graft.GraftSession.tune(
        SparkSession.builder().master(s"local[${a.cores}]").appName("perfbench"), a.cores)
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.out}/stream-ckpt")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStart = (System.nanoTime() - tStart) / 1e9
    val run = new Run(spark, a, jvmStart, sessionStart)
    val res = run(a.workload)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(a.out, "result.json"), json.writeValueAsString(res))
    spark.stop()
  }
}

final class Run(spark: SparkSession, a: Main.Args, jvmStart: Long, sessionStart: Double) {
  private val sc = spark.sparkContext
  private val rec = new Recorder
  if (a.trace) sc.addSparkListener(rec)
  private val tr = new Tracer(a.trace, sc)
  private val out = mutable.LinkedHashMap.empty[String, Any]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0

  // every successful QueryExecution: planning phases and final-plan shape.
  // The listener runs on the bus thread, in event order with the recorder,
  // so a query that ran no job of its own goes to the last job's step.
  final case class QeRec(id: Long, busStep: Int, analysisMs: Long, optMs: Long, planMs: Long,
                         nodes: Int, exchanges: Int)
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  if (a.trace) spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val (n, x) = Run.planShape(qe.executedPlan)
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      qes.synchronized { qes += QeRec(qe.id, rec.lastJobStep, ms("analysis"), ms("optimization"), ms("planning"), n, x) }
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def setupSince(): Double = (System.currentTimeMillis() - jvmStart) / 1000.0

  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failures += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(2).mkString(" | ")}"
      None
    }
  }

  private def check(what: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failures += s"$what: $detail"
  }

  /** Heap in use right after a full collection: the sum of each heap
    * pool's usage as the collector left it (a plain used-heap read also
    * counts whatever other threads allocated since).
    */
  private def heapLiveMb(): Double = {
    // repeated: blocks whose owners a collection frees are removed by
    // Spark's cleaner thread afterwards, and only the next one frees them
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }

  private def gcTotals(): (Double, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum / 1000.0, bs.map(_.getCollectionCount).sum)
  }

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  private def storageMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def finish(): mutable.LinkedHashMap[String, Any] = {
    out("heap_live_mb") = heapLiveMb()
    out("attempted") = attempted
    out("failures") = failures.toSeq
    if (a.trace) {
      val (gcS, gcN) = gcTotals()
      layers("session.start_s") = sessionStart
      layers("jvm.gc_s") = gcS
      layers("jvm.gc_count") = gcN.toDouble
      layers("jvm.heap_peak_mb") = heapPeakMb()
      out("layers") = layers
      out("drained") = rec.drain(sc)
      out("unattributed_jobs") = rec.jobs.values.count(_.step < 0)
      traceReport()
    }
    out
  }

  // ---------------------------------------------------------------- trace

  private val roots = mutable.ArrayBuffer.empty[Int] // step spans reconciled to their wall

  private def traceReport(): Unit = {
    val all = tr.allSpans(rec)
    val byId = all.map(s => s.id -> s).toMap
    val layerSelf = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val recon = roots.toSeq.flatMap(byId.get).map { root =>
      val self = SelfTime(all, root.id)
      self.foreach { case (id, t) => layerSelf(byId(id).layer) += t }
      val wall = (root.end - root.start) / 1e6
      val sum = self.values.sum
      Map("step" -> root.name, "wall_s" -> wall, "self_sum_s" -> sum,
        "ok" -> (math.abs(sum - wall) <= math.max(Run.ReconRel * wall, Run.ReconAbsS)))
    }
    out("reconcile") = Map(
      "tolerance" -> s"|sum of self times - step wall| <= max(${Run.ReconRel * 100}% of wall, ${Run.ReconAbsS * 1000} ms)",
      "steps" -> recon.size,
      "steps_within" -> recon.count(_("ok") == true),
      "worst" -> recon.sortBy(r => -math.abs(r("self_sum_s").asInstanceOf[Double] -
        r("wall_s").asInstanceOf[Double])).take(5),
      "layer_self_s" -> layerSelf)
    out("spans") = all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "layer" -> s.layer, "start_us" -> s.start, "end_us" -> s.end))
  }

  /** Spans of `steps` (ids) and their jobs/stages: exec and plans layers. */
  private def execLayers(stepIds: Set[Int], perPass: Double): Unit = {
    val jobs = rec.jobs.values.filter(j => stepIds.contains(j.step)).toSeq
    val jobIds = jobs.map(_.id).toSet
    val st = rec.stages.values.filter(s => jobIds.contains(s.job)).toSeq
    val union = Run.unionSeconds(jobs.map(j => (j.start, math.max(j.end, j.start))))
    val taskS = st.map(_.runMs).sum / 1000.0
    def per(x: Double) = x / perPass
    layers("exec.s") = per(union)
    layers("exec.jobs") = per(jobs.size)
    layers("exec.stages") = per(st.size)
    val ran = st.map(_.id).toSet
    layers("exec.stages_skipped") = per(jobs.map(_.stageIds.count(id => !ran.contains(id))).sum)
    layers("exec.tasks") = per(st.map(_.tasks).sum)
    layers("exec.task_s") = per(taskS)
    layers("exec.cpu_s") = per(st.map(_.cpuNs).sum / 1e9)
    layers("exec.gc_s") = per(st.map(_.gcMs).sum / 1000.0)
    layers("exec.sched_delay_s") = per(st.map(_.schedMs).sum / 1000.0)
    layers("exec.core_util") = if (union > 0) taskS / (union * a.cores) else 0.0
    layers("exec.shuffle_read_mb") = per(st.map(_.shuffleRead).sum / 1048576.0)
    layers("exec.shuffle_write_mb") = per(st.map(_.shuffleWrite).sum / 1048576.0)
    layers("exec.spill_mb") = per(st.map(_.spill).sum / 1048576.0)
    layers("exec.output_mb") = per(st.map(_.output).sum / 1048576.0)
    layers("exec.failed_tasks") = per(st.map(_.failedTasks).sum)
    layers("sources.input_mb") = per(st.map(_.input).sum / 1048576.0)
    val ck = jobs.filter(_.checkpoint)
    layers("plans.checkpoint_jobs") = per(ck.size)
    layers("plans.checkpoint_s") = per(Run.unionSeconds(ck.map(j => (j.start, math.max(j.end, j.start)))))
    val q = qes.synchronized(qes.filter(r =>
      stepIds.contains(rec.execStep.getOrElse(r.id, r.busStep))).toSeq)
    layers("catalyst.analysis_ms") = per(q.map(_.analysisMs).sum)
    layers("catalyst.optimization_ms") = per(q.map(_.optMs).sum)
    layers("catalyst.planning_ms") = per(q.map(_.planMs).sum)
    if (!layers.contains("catalyst.plan_nodes")) {
      layers("catalyst.plan_nodes") = per(q.map(_.nodes).sum)
      layers("catalyst.exchanges") = per(q.map(_.exchanges).sum)
    }
  }

  /** Step ids of every span under (and including) the given roots. */
  private def subtree(rootIds: Seq[Int]): Set[Int] = {
    val kids = tr.spans.groupBy(_.parent)
    val acc = mutable.Set.empty[Int]
    def walk(i: Int): Unit = { acc += i; kids.getOrElse(i, Nil).foreach(s => walk(s.id)) }
    rootIds.foreach(walk)
    acc.toSet
  }

  private def lastStepId: Int = tr.lastId

  /** Throughput of each graft.functions column builder over `docs`. */
  private def functionRates(docs: DataFrame): Unit = {
    import graft.functions._
    val t = col("text")
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "normalize_text" -> NormalizeText.column(t),
      "quality_stats" -> QualityStats.column(t),
      "repetition_stats" -> RepetitionStats.column(t),
      "char_minhash" -> CharNgramFunctions.charMinHash(t, 6, 64, 0x5EED0002L),
      "wordgram_md5s" -> WordGramMd5s.column(t, 5),
      "fingerprint" -> GraftFunctions.fingerprint(t))
    val cached = docs.select(t).localCheckpoint(eager = true)
    val n = cached.count().toDouble
    kernels.foreach { case (k, c) =>
      val times = (1 to 3).map(_ => tr.step(s"kernel $k", "functions")(noop(cached.select(c)))._2)
      layers(s"functions.$k.rows_per_s") = n / median(times.drop(1))
    }
  }

  /** Runs a workload under one root span, so every job it starts
    * (checks included) is attributed to some step.
    */
  def apply(workload: String): mutable.LinkedHashMap[String, Any] = {
    tr.step(s"workload $workload", "bench") {
      workload match {
        case "board"  => boardBody()
        case "elt"    => eltBody()
        case "corpus" => corpusBody()
        case w        => throw new IllegalArgumentException(s"unknown workload $w")
      }
    }
    finish()
  }

  // ---------------------------------------------------------------- board

  private def boardBody(): Unit = {
    val dir = s"${a.in}/board"
    val qs = graft.SparkEntry.queries
    val missing = Run.BoardRows.filterNot(qs.contains)
    require(missing.isEmpty, s"board rows missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val rows = if (a.smoke) Run.BoardRows.take(3) else Run.BoardRows
    val rnd = new scala.util.Random(a.seed)
    out("rows") = rows
    out("oracle") = graft.SparkEntry.oracleSql.filter(kv => rows.contains(kv._1))

    // set-up: a pass that writes each row's output for the oracle check
    val warm = tr.step("warm-up pass", "session") {
      rnd.shuffle(rows).map { n =>
        val (df, ct) = tr.step(s"construct $n", "operators")(attempt(s"$n construct")(qs(n)(spark, dir)))
        df.foreach(d => attempt(s"$n run")(d.coalesce(1).write.mode("overwrite")
          .parquet(s"${a.out}/check/$n")))
        ct
      }.sum
    }._1
    // more untimed passes, so the timed ones start after the JIT has settled
    (1 until (if (a.smoke) 1 else Run.WarmupPasses)).foreach { i =>
      tr.step(s"warm-up pass $i", "session") {
        rnd.shuffle(rows).foreach(n => attempt(s"$n warm-up")(noop(qs(n)(spark, dir))))
      }
    }
    out("setup_s") = setupSince()

    // timed passes: construct -> plan -> noop write, row order from the seed
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val rowWalls = mutable.ArrayBuffer.empty[Double]
    val rowNames = mutable.ArrayBuffer.empty[String]
    val construct = mutable.ArrayBuffer.empty[Double]
    val passIds = mutable.ArrayBuffer.empty[Int]
    val relations = mutable.ArrayBuffer.empty[Int]
    val shape = mutable.ArrayBuffer.empty[(Int, Int)]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minPasses = if (a.smoke) 1 else Run.MinBoardPasses
    while (passWalls.size < minPasses || elapsed < a.seconds) {
      var cons = 0.0
      val pass = passWalls.size
      val (_, w) = tr.step(s"pass $pass", "board") {
        rnd.shuffle(rows).foreach { n =>
          val (_, rw) = tr.step(s"row $n", "board") {
            val (df, c) = tr.step(s"construct $n", "operators")(attempt(s"$n construct")(qs(n)(spark, dir)))
            cons += c
            df.foreach { d =>
              tr.step(s"plan $n", "catalyst") {
                val p = d.queryExecution.executedPlan
                if (pass == 0 && a.trace) {
                  shape += Run.planShape(p)
                  relations += d.queryExecution.analyzed.collect {
                    case LogicalRelation(_: HadoopFsRelation, _, _, _, _) => 1 }.size
                }
              }
              tr.step(s"execute $n", "exec")(attempt(s"$n execute")(noop(d)))
            }
          }
          roots += lastStepId
          rowWalls += rw
          rowNames += n
        }
      }
      passIds += lastStepId
      passWalls += w
      construct += cons
    }
    out("pass_s") = passWalls.toSeq
    out("op_s") = rowWalls.toSeq
    out("op_names") = rowNames.toSeq

    if (a.trace) {
      val np = passWalls.size.toDouble
      rec.drain(sc)
      val ids = subtree(passIds.toSeq)
      execLayers(ids, np)
      layers("catalyst.plan_nodes") = shape.map(_._1).sum.toDouble
      layers("catalyst.exchanges") = shape.map(_._2).sum.toDouble
      layers("sources.relations") = relations.sum.toDouble
      layers("plans.checkpoint_mb") = storageMb()
      layers("operators.construct_s") = construct.sum / np
      layers("plans.cache_first_touch_s") = warm - construct.sum / np
      val consIds = tr.spans.filter(s => ids.contains(s.id) && s.name.startsWith("construct ")).map(_.id).toSet
      val consJobs = rec.jobs.values.filter(j => consIds.contains(j.step)).toSeq
      val consSpans = tr.spans.filter(s => consIds.contains(s.id))
      layers("operators.construct_jobs") = consJobs.size / np
      layers("operators.construct_self_s") = (consSpans.map(s => (s.end - s.start) / 1e6).sum -
        consJobs.map(j => (math.max(j.end, j.start) - j.start) / 1000.0).sum) / np
      // warm opens of each generated table
      val tables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
        "events", "documents", "embeddings")
      val opens = tables.flatMap { t =>
        (0 to 3).map { _ =>
          tr.step(s"open $t", "sources") {
            if (t == "events") graft.sources.Ingest.events(spark, dir)
            else graft.sources.Ingest.table(spark, dir, t)
          }._2
        }.drop(1)
      }
      layers("sources.open_ms") = median(opens) * 1000
      functionRates(graft.sources.Ingest.table(spark, dir, "documents"))
    }
  }

  // ---------------------------------------------------------------- elt

  private def eltBody(): Unit = {
    import graft.operators.{Relational, StarSchema, Temporal}
    import graft.sources.Ingest
    import org.apache.spark.sql.types._
    out("setup_s") = setupSince()
    out("oracle") = graft.SparkEntry.oracleSql.filter(kv => Run.EltQueries.contains(kv._1))
    val in = s"${a.in}/elt"
    val stage = s"$in/stage"
    val wh = s"${a.out}/warehouse"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    def save(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$wh/$name.parquet")
    val steps = mutable.LinkedHashMap.empty[String, Double]
    def timed(name: String, layer: String)(body: => Unit): Unit = {
      val (_, s) = tr.step(name, layer)(attempt(name)(body))
      roots += lastStepId
      steps(name) = s
    }
    val raw = s"${a.out}/raw/events.csv"
    val csvBytes = new java.io.File(s"$in/src/events.csv").length()
    val (_, eltS) = tr.step("elt", "elt") {
      timed("acquire", "sources") {
        Ingest.acquire(Paths.get(s"$in/src/events.csv").toAbsolutePath.toUri.toString, raw)
      }
      timed("load", "sources") {
        Ingest.csvPipe(spark, raw, schema).write.mode("overwrite").parquet(s"$stage/events.parquet")
      }
      timed("dims", "operators") {
        save(StarSchema.qDimDate(spark, stage), "dim_date")
        save(StarSchema.qDimTime(spark, stage), "dim_time")
        save(StarSchema.qDimGeo(spark, stage), "dim_geo")
        save(StarSchema.qDimStatus(spark, stage), "dim_status")
      }
      timed("fact", "operators") { save(StarSchema.qFactBuild(spark, stage), "fact") }
      timed("report", "operators") {
        save(StarSchema.qStarReport(spark, stage), "star_report")
        save(Relational.qMonthlyTrend(spark, stage), "monthly_trend")
      }
      timed("export", "sources") {
        out("export_rows") = Ingest.exportReportCsv(
          spark.read.parquet(s"$wh/monthly_trend.parquet").orderBy("year_month"),
          s"${a.out}/report/monthly_trend.csv")
      }
    }
    val eltRoot = lastStepId
    out("pass_s") = Seq(eltS)
    out("steps_s") = steps

    // streaming tail: one addData -> processAllAvailable per micro-batch
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val typeDim = spark.read.parquet(s"$stage/events.parquet")
      .select(col("event_type").as("et")).distinct()
      .withColumn("type_id", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy("et")).cast("long"))
      .select(col("et").as("event_type"), col("type_id")).localCheckpoint(eager = true)
    // one source per query: a MemoryStream drops committed batches
    def source() = {
      val m = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long, String, Double)]
      (m, m.toDF().select(col("_1").as("event_id"), timestamp_millis(col("_2")).as("ts"),
        col("_3").as("user_id"), col("_4").as("event_type"), col("_5").as("value")))
    }
    val (msE, evE) = source()
    val (msT, evT) = source()
    def start(df: DataFrame, name: String) = df.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", s"${a.out}/stream-ckpt/$name").start()
    val qEnrich = start(graft.streaming.Streams.enrichFacts(evE, typeDim), "enriched")
    val qTumble = start(graft.streaming.Streams.tumblingCounts(evT), "tumbling")
    val batches = spark.read.parquet(s"$in/tail_batches.parquet")
      .select(col("batch"), col("event_id"), unix_millis(col("ts").cast("timestamp")), col("user_id"),
        col("event_type"), col("value"))
      .collect().groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getDouble(5))).toSeq)
    val batchWalls = mutable.ArrayBuffer.empty[Double]
    val prog = mutable.ArrayBuffer.empty[Map[String, Double]]
    val tailIds = mutable.ArrayBuffer.empty[Int]
    var lastE = -1L; var lastT = -1L
    batches.zipWithIndex.foreach { case (b, i) =>
      val (_, w) = tr.step(s"micro-batch $i", "streaming") {
        attempt(s"micro-batch $i") {
          msE.addData(b); msT.addData(b)
          qEnrich.processAllAvailable()
          qTumble.processAllAvailable()
        }
      }
      roots += lastStepId; tailIds += lastStepId
      batchWalls += w
      if (a.trace) {
        val ps = qEnrich.recentProgress.filter(_.batchId > lastE) ++
          qTumble.recentProgress.filter(_.batchId > lastT)
        lastE = qEnrich.recentProgress.lastOption.map(_.batchId).getOrElse(lastE)
        lastT = qTumble.recentProgress.lastOption.map(_.batchId).getOrElse(lastT)
        def d(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
        val st = qTumble.recentProgress.lastOption.toSeq.flatMap(_.stateOperators)
        prog += Map("trigger" -> d("triggerExecution"), "add" -> d("addBatch"),
          "plan" -> d("queryPlanning"), "commit" -> (d("commitOffsets") + d("walCommit")),
          "rows" -> st.map(_.numRowsTotal).sum.toDouble,
          "mb" -> st.map(_.memoryUsedBytes).sum / 1048576.0)
      }
    }
    out("op_s") = batchWalls.toSeq
    // drain: a far-future event closes every window, then compare with batch
    val sentinel = Seq((-1L, 4102444800000L, 0L, "sentinel", 0.0))
    msE.addData(sentinel); msT.addData(sentinel)
    qEnrich.processAllAvailable(); qTumble.processAllAvailable()
    qTumble.processAllAvailable()
    val got = spark.sql("SELECT window_start_ms, event_type, n_events, total_value FROM tumbling " +
      "WHERE event_type <> 'sentinel'").collect().map(_.toSeq).toSet
    val exp = Temporal.qStreamTumbling(spark, s"$in/tail").collect().map(_.toSeq).toSet
    check("stream tumbling == batch qStreamTumbling", got == exp && got.nonEmpty,
      s"${got.size} streamed windows vs ${exp.size} batch windows, ${(got diff exp).size} differ")
    val nTail = batches.map(_.size).sum
    val enriched = spark.sql("SELECT count(*), count(type_id) FROM enriched WHERE event_id >= 0").head
    check("stream enrichFacts rows", enriched.getLong(0) == nTail && enriched.getLong(1) == nTail,
      s"${enriched.getLong(0)} rows, ${enriched.getLong(1)} with type_id, expected $nTail")
    qEnrich.stop(); qTumble.stop()

    if (a.trace) {
      rec.drain(sc)
      val ids = subtree(Seq(eltRoot))
      execLayers(ids, 1.0)
      layers("sources.acquire_s") = steps.getOrElse("acquire", 0.0)
      layers("sources.csv_load_s") = steps.getOrElse("load", 0.0)
      layers("sources.csv_mb_per_s") = csvBytes / 1048576.0 / math.max(steps.getOrElse("load", 1.0), 1e-9)
      layers("sources.export_s") = steps.getOrElse("export", 0.0)
      layers("operators.elt.dims_s") = steps.getOrElse("dims", 0.0)
      layers("operators.elt.fact_s") = steps.getOrElse("fact", 0.0)
      layers("operators.elt.report_s") = steps.getOrElse("report", 0.0)
      def pm(k: String) = median(prog.map(_(k)).toSeq)
      layers("streaming.trigger_ms") = pm("trigger")
      layers("streaming.add_batch_ms") = pm("add")
      layers("streaming.planning_ms") = pm("plan")
      layers("streaming.commit_ms") = pm("commit")
      layers("streaming.state_rows") = prog.lastOption.map(_("rows")).getOrElse(0.0)
      layers("streaming.state_mb") = prog.lastOption.map(_("mb")).getOrElse(0.0)
    }
  }

  // ---------------------------------------------------------------- corpus

  private def corpusBody(): Unit = {
    import graft.operators.CorpusBuild
    out("setup_s") = setupSince()
    val dir = s"${a.in}/corpus"
    val path = s"${a.out}/corpus"
    def manifest(): Array[Row] = spark.read.parquet(s"$path/manifest.parquet").collect()
    def docsOf(m: Array[Row]) = m.map(_.getAs[Long]("n_docs")).sum
    def toksOf(m: Array[Row]) = m.map(_.getAs[Long]("n_tokens")).sum
    val chainIds = mutable.ArrayBuffer.empty[Int]

    val (_, writeS) = tr.step("corpusWrite", "operators")(attempt("corpusWrite")(CorpusBuild.corpusWrite(spark, dir, path)))
    roots += lastStepId; chainIds += lastStepId
    val m0 = manifest()
    val census = CorpusBuild.qCorpusBuild(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    check("manifest docs == census survivors", docsOf(m0) == census(8L)._1,
      s"${docsOf(m0)} vs ${census(8L)._1}")
    check("manifest tokens == census survivor tokens", toksOf(m0) == census(8L)._2,
      s"${toksOf(m0)} vs ${census(8L)._2}")
    check("manifest shards == census shard units", m0.length.toLong == census(10L)._3,
      s"${m0.length} vs ${census(10L)._3}")

    val incs = Increments(spark, path, dir, a.seed, Run.CorpusIncrements)
    var m = m0
    var offered = 0L; var accepted = 0L
    val upsertWalls = mutable.ArrayBuffer.empty[Double]
    incs.zipWithIndex.foreach { case (inc, i) =>
      val df = spark.createDataFrame(inc.rows.asJava, Increments.schema)
      val (_, w) = tr.step(s"corpusUpsert $i", "operators")(attempt(s"corpusUpsert $i")(CorpusBuild.corpusUpsert(spark, path, df)))
      roots += lastStepId; chainIds += lastStepId
      upsertWalls += w
      val m1 = manifest()
      val ids = inc.rows.map(_.getLong(0))
      val landed = spark.read.parquet(s"$path/shards.parquet")
        .filter(col("doc_id").isin(ids: _*)).select("doc_id", "toks").collect()
      val got = landed.map(_.getLong(0)).toSet
      val dDocs = docsOf(m1) - docsOf(m)
      check(s"increment $i: manifest delta == docs landed", dDocs == landed.length,
        s"delta $dDocs, landed ${landed.length}")
      check(s"increment $i: manifest token delta", toksOf(m1) - toksOf(m) == landed.map(_.getLong(1)).sum,
        s"${toksOf(m1) - toksOf(m)} vs ${landed.map(_.getLong(1)).sum}")
      check(s"increment $i: no copy accepted", inc.copies.forall(id => !got.contains(id)),
        s"accepted copies ${inc.copies.filter(got.contains)}")
      check(s"increment $i: twins accepted at most once", inc.twins.forall { case (x, y) =>
        !(got.contains(x) && got.contains(y)) }, "both twins accepted")
      check(s"increment $i: every unique doc accepted", inc.uniques.forall(got.contains),
        s"unique docs dropped: ${inc.uniques.filterNot(got.contains)}")
      offered += ids.size; accepted += landed.length
      m = m1
    }
    val (_, compactS) = tr.step("corpusCompact", "operators")(attempt("corpusCompact")(CorpusBuild.corpusCompact(spark, path)))
    roots += lastStepId; chainIds += lastStepId
    val mc = manifest()
    check("compact keeps docs and tokens", docsOf(mc) == docsOf(m) && toksOf(mc) == toksOf(m),
      s"docs ${docsOf(m)} -> ${docsOf(mc)}, tokens ${toksOf(m)} -> ${toksOf(mc)}")
    out("pass_s") = Seq(writeS + upsertWalls.sum + compactS)
    out("op_s") = upsertWalls.toSeq
    out("named") = Map("corpus_write_s" -> writeS, "compact_s" -> compactS)
    out("accepted") = accepted
    out("offered") = offered

    if (a.trace) {
      rec.drain(sc)
      val ids = subtree(chainIds.toSeq)
      execLayers(ids, 1.0)
      val published = Run.dirBytes(new java.io.File(path))
      layers("operators.corpus.write_s") = writeS
      layers("operators.corpus.compact_s") = compactS
      layers("operators.corpus.write_mb") = layers("exec.output_mb")
      layers("operators.corpus.files") = Run.dirFiles(new java.io.File(path)).toDouble
      layers("operators.corpus.write_amp") = layers("exec.output_mb") * 1048576.0 / math.max(published, 1L)
      layers("operators.corpus.accept_ratio") = if (offered > 0) accepted.toDouble / offered else 0.0
      layers("plans.checkpoint_mb") = storageMb()
      functionRates(graft.sources.Ingest.table(spark, dir, "documents"))
    }
  }
}

object Run {
  /** The board rows. Pinned by name, so a query added to or renamed in
    * `SparkEntry.queries` cannot change what is measured.
    */
  val BoardRows = Seq("q5_starjoin", "q_changepoint", "q_dim_time", "q_hll_union",
    "q_ngram_jaccard", "q_rollup", "q_stream_sliding")
  val ReconRel = 0.05
  val ReconAbsS = 0.010
  val CorpusIncrements = 2
  val MinBoardPasses = 3
  val WarmupPasses = 2
  val EltQueries = Set("q_dim_date", "q_dim_time", "q_dim_geo", "q_dim_status", "q_fact_build",
    "q_star_report", "q_monthly_trend")

  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }

  /** (nodes, exchanges) of a physical plan, looking through AQE wrappers. */
  def planShape(p: SparkPlan): (Int, Int) = {
    var nodes = 0; var ex = 0
    def walk(q: SparkPlan): Unit = q match {
      case x: AdaptiveSparkPlanExec => walk(x.executedPlan)
      case x: QueryStageExec => walk(x.plan)
      case x =>
        nodes += 1
        if (x.isInstanceOf[Exchange]) ex += 1
        x.children.foreach(walk)
        x.subqueries.foreach(walk)
    }
    walk(p)
    (nodes, ex)
  }

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum else f.length

  def dirFiles(f: java.io.File): Int =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirFiles).sum
    else if (f.getName.endsWith(".parquet")) 1 else 0
}
