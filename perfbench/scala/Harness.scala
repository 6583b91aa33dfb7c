package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, GraftSession, Pipeline, SparkEntry}
import graft.streaming.StreamingPipeline

/** The benchmark's JVM side: one workload in one JVM on local[N].
  *
  * Every timed call is one user-visible operation. A call that throws,
  * fails the gate, writes fewer than six marts, or drains a stream
  * short is a failed operation: it is counted and left out of every
  * timing. Output checks run outside the timed calls. The result goes
  * to `--out` as JSON for run.py, which adds the DuckDB oracle compare
  * and prints the final record.
  *
  * Usage: Harness --workload W --data DIR --work DIR --seconds S
  *   --trace 0|1 --cpus N --seed N --out FILE --launched-ms T --registry FILE */
object Harness {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** A timed call during which the VM lost more than this share of its
    * CPU time to the hypervisor (steal) measured the host, not the
    * program: its sample is kept apart, and the run makes another call
    * in its place, up to MaxContended times (once: each replacement
    * lengthens the run by a whole call). */
  val MaxSteal = 0.01
  val MaxContended = 1

  /** (steal, total) jiffies over all CPUs, from /proc/stat. */
  def cpuJiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Whether steal between two /proc/stat readings exceeded MaxSteal. */
  def contended(j0: (Long, Long), j1: (Long, Long)): Boolean =
    (j1._1 - j0._1).toDouble / math.max(1L, j1._2 - j0._2) > MaxSteal

  /** Wall times of one kind of call; contended samples are reported
    * only when the run has no clean one. */
  final class Samples {
    val clean = mutable.ArrayBuffer.empty[Double]
    val contended = mutable.ArrayBuffer.empty[Double]
    def add(wall: Double, hit: Boolean): Unit = (if (hit) contended else clean) += wall
    def reported: Seq[Double] = (if (clean.nonEmpty) clean else contended).toSeq
    def isEmpty: Boolean = clean.isEmpty && contended.isEmpty
  }

  final class Run(val seconds: Double) {
    val calls = mutable.ArrayBuffer.empty[Call]
    val failures = mutable.ArrayBuffer.empty[String]
    val checks = mutable.ArrayBuffer.empty[String] // failed output checks
    var checksRun = 0
    var attempted = 0
    var timed = 0.0 // summed wall of the clean successful timed calls: the run's measured time
    var lastContended = false
    var contendedCalls = 0
    var mark = 0L
    // planning time of a registry query's action, by call index (traced run)
    val planMs = mutable.HashMap.empty[Int, java.util.concurrent.atomic.AtomicLong]
    val sinkStats = mutable.LinkedHashMap.empty[String, Map[String, Long]]

    /** Run one operation; `ok` inspects its result. A failed call is
      * recorded as a failure and returns None (no timing). */
    def call[T](kind: String, label: String, module: String = "", timedCall: Boolean = true)
        (body: => T)(ok: T => Option[String]): Option[(T, Double)] = {
      attempted += 1
      mark = 0L
      val t0 = System.currentTimeMillis(); val n0 = System.nanoTime(); val j0 = cpuJiffies()
      val res = try Right(body) catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      val wall = (System.nanoTime() - n0) / 1e9
      val j1 = cpuJiffies()
      lastContended = contended(j0, j1)
      calls += Call(kind, label, module, t0, System.currentTimeMillis(), mark)
      res.flatMap(r => ok(r).toLeft(r)) match {
        case Right(r) =>
          if (timedCall) account(wall, lastContended)
          Some((r, wall))
        case Left(msg) =>
          failures += s"$kind $label: ${msg.take(300)}"
          None
      }
    }
    /** Count a timed sample: measured time when clean, else a contended call. */
    def account(wall: Double, hit: Boolean): Unit = if (hit) contendedCalls += 1 else timed += wall

    // a workload that keeps failing, or a host that keeps stealing the
    // CPU, stops the run instead of running it to the deadline
    def gaveUp: Boolean = failures.size >= 10 || contendedCalls > MaxContended
    def done: Boolean = timed >= seconds || gaveUp

    /** Another call of a kind is due: none has succeeded yet, or the run
      * still wants clean samples of it. */
    def wants(s: Samples, more: Boolean): Boolean =
      failures.size < 10 && (s.isEmpty || (!gaveUp && (more || s.clean.isEmpty)))

    /** An output check: counted as an operation, failed when `ok` is false. */
    def check(ok: Boolean, msg: => String): Unit = {
      checksRun += 1
      if (!ok) checks += msg
    }
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val (data, work, cpus) = (a("data"), a("work"), a("cpus").toInt)
    val trace = a("trace") == "1"
    val run = new Run(a("seconds").toDouble)
    // registry names are checked before any timing: a renamed or
    // removed query fails the run loudly
    val registry = a.get("registry").map(readRegistry)

    def session(): SparkSession = {
      val s = GraftSession.builder(master = s"local[$cpus]", shufflePartitions = cpus)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    // GraftSession start, three times; the median goes into setup_s
    val sessionS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val s = session()
      s.range(1).collect()
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < 3) s.stop()
      dt
    }
    val spark = session()
    val streamNames = mutable.HashMap.empty[String, String]
    val tracer = Option.when(trace)(new Tracer)
    tracer.foreach(spark.sparkContext.addSparkListener)
    val canaryStart = canary(spark, cpus)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cpus" -> cpus, "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "launch_to_main_s" -> (mainMs - a("launched-ms").toLong) / 1e3,
      "session_s" -> sessionS, "canary_start" -> canaryStart)
    val result = workload match {
      case "daily_catchup" => daily(spark, run, data, work, trace)
      case "registry_mix" => registryMix(spark, run, data, work, registry.get, a("seed").toLong, trace)
      case "stream_replay" => stream(spark, run, data, work, streamNames)
    }
    out ++= result
    out("canary_end") = canary(spark, cpus)
    out("calls_attempted") = run.attempted
    out("calls_failed") = run.failures.toSeq
    out("checks_run") = run.checksRun
    out("contended") = run.contendedCalls
    out("checks_failed") = run.checks.toSeq
    spark.stop() // drains the listener bus before the trace is read
    tracer.foreach { t =>
      out("trace") = t.dump(streamNames.toMap) ++ Map(
        "calls" -> run.calls.zipWithIndex.map { case (c, i) =>
          c.toMap + ("plan_ms" -> run.planMs.get(i).map(_.get).getOrElse(0L)) }.toSeq,
        "sink_stats" -> run.sinkStats.toMap)
    }
    out ++= jvmStats()
    Files.writeString(Paths.get(a("out")), mapper.writeValueAsString(out.toMap))
  }

  /** Bench's constant CPU canary (32M rows per core, min of two), with
    * no wait loop: a throttled host shows in the record, not in a
    * retry. */
  def canary(spark: SparkSession, cpus: Int): Double = Seq(1, 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 32000000L * cpus, 1L, cpus).selectExpr("max(xxhash64(id)) AS s")
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }.min

  private def jvmStats(): Map[String, Any] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    Map("jvm_gc_s" -> gc, "jvm_heap_peak_mb" -> heap, "peak_rss_mb" -> hwm)
  }

  /** The listed registry names: (name, module, timed). */
  private def readRegistry(path: String): Seq[(String, String, Boolean)] = {
    val rows = scala.io.Source.fromFile(path).getLines().map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\\s+"))
      .map(r => (r(0), r(1), r.lift(2).contains("timed"))).toSeq
    val missing = rows.map(_._1).filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"registry names no longer registered: ${missing.mkString(", ")}")
    rows
  }

  private def delete(path: String): Unit = {
    val f = new File(path)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  // ---------------------------------------------------------------- pipeline

  val Marts = Seq("mart_user_daily", "mart_funnel_daily", "mart_product_daily",
    "mart_orders", "session_sequences", "hourly_traffic")
  val Partition = Map("mart_user_daily" -> "event_date", "mart_funnel_daily" -> "event_date",
    "mart_product_daily" -> "event_date", "mart_orders" -> "order_date",
    "session_sequences" -> "session_date", "hourly_traffic" -> "event_date")

  private def pipelineRun(spark: SparkSession, feed: String, outDir: String,
      dates: Seq[String]): Pipeline.Result = {
    Caches.clearAll() // each call is a new scheduled run: no memo from the last one
    Pipeline.run(spark, feed, outDir, dates = dates,
      checkLogDir = Some(s"$outDir/quality_check_log"))
  }

  /** Parquet files, bytes and partition directories written under
    * `dir` since `sinceMs` — the sink's output, read off the file
    * system after the call. */
  private def written(dir: String, sinceMs: Long): Map[String, Long] = {
    val files = org.apache.commons.io.FileUtils.listFiles(new File(dir), Array("parquet"), true)
      .asScala.filter(_.lastModified() >= sinceMs).toSeq
    Map("files" -> files.size.toLong, "bytes" -> files.map(_.length).sum,
      "partitions" -> files.map(_.getParent).distinct.size.toLong)
  }

  /** A timed pipeline call; in the traced run the sink's output is
    * measured after it. */
  private def pipelineCall(spark: SparkSession, run: Run, kind: String, label: String,
      feed: String, outDir: String, dates: Seq[String], trace: Boolean): Option[Double] = {
    val t0 = System.currentTimeMillis()
    val res = run.call(kind, label)(pipelineRun(spark, feed, outDir, dates))(pipelineOk)
    if (trace && res.nonEmpty) run.sinkStats(label) = written(outDir, t0)
    res.map(_._2)
  }

  private def pipelineOk(r: Pipeline.Result): Option[String] =
    if (!r.passed) Some(s"gate FAIL: ${r.failedChecks.mkString(",")}")
    else if (r.martsWritten.size < 6) Some(s"wrote ${r.martsWritten.size} marts")
    else None

  /** The feed alternates with a planted-defect copy when one was staged
    * (`feed_bad`), so planted failures interleave with good calls. */
  private def feedFor(data: String, i: Int): String =
    if (i % 2 == 0 && new File(s"$data/feed_bad").exists()) s"$data/feed_bad" else s"$data/feed"

  /** Order-independent content fingerprint: row count and the decimal
    * sum of a 64-bit row hash. */
  def fingerprint(df: DataFrame): String = {
    val r = df.select(count(lit(1)),
      coalesce(sum(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).cast("decimal(38,0)")),
        lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** The registry query of each mart's name, whose oracle SQL the mart
    * is compared with. */
  private def martOracle: Seq[Map[String, String]] =
    Marts.map(m => Map("name" -> m, "sql" -> SparkEntry.oracleSql(m), "drop" -> Partition(m)))

  /** The check log holds seven rows per logged date, all PASS for the
    * dates of successful calls. */
  private def checkLog(spark: SparkSession, run: Run, dir: String, passed: Seq[String]): Unit = {
    val log = spark.read.parquet(dir)
    val perDate = log.groupBy("run_date").agg(count(lit(1)).as("n"),
      count(when(col("status") =!= "PASS", 1)).as("bad"))
    val mustPass = col("run_date").isin(passed.map(java.sql.Date.valueOf): _*)
    val bad = perDate.filter(col("n") =!= 7 || (mustPass && col("bad") > 0)).count()
    run.check(bad == 0 && perDate.count() > 0, s"quality_check_log: $bad bad dates")
  }

  def daily(spark: SparkSession, run: Run, data: String, work: String,
      trace: Boolean): Map[String, Any] = {
    val meta = mapper.readValue(new File(s"$data/feed_meta.json"), classOf[Map[String, Any]])
    val days = meta("dates").asInstanceOf[Seq[String]]
    val warm = s"$work/daily_warm"
    val warmup = run.call("warmup", days.head, timedCall = false)(
      pipelineRun(spark, s"$data/feed", warm, Seq(days.head)))(pipelineOk).map(_._2)
    delete(warm)
    val outDir = s"$work/daily"
    val built = mutable.ArrayBuffer.empty[String]
    val (first, rerun) = (new Samples, new Samples)
    // catch-up: consecutive first builds for half the measured time,
    // then reruns; at least one of each
    var i = 0
    while (i < days.size - 1 && run.wants(first, run.timed < 0.5 * run.seconds)) {
      val d = days(1 + i)
      pipelineCall(spark, run, "daily", d, feedFor(data, i), outDir, Seq(d), trace)
        .foreach { wall => first.add(wall, run.lastContended); built += d }
      i += 1
    }
    def outputs(dir: String) = (Marts :+ "quality_check_log").filter(m => new File(s"$dir/$m").exists())
    val before = outputs(outDir).map(m => m -> fingerprint(spark.read.parquet(s"$outDir/$m"))).toMap
    // reruns of already-built dates: the sink's overwrite path
    var j = 0
    while (built.nonEmpty && run.wants(rerun, !run.done)) {
      val d = built(j % built.size)
      pipelineCall(spark, run, "rerun", s"$d#$j", s"$data/feed", outDir, Seq(d), trace)
        .foreach(rerun.add(_, run.lastContended))
      j += 1
    }
    val after = outputs(outDir).map(m => m -> fingerprint(spark.read.parquet(s"$outDir/$m"))).toMap
    run.check(before == after,
      s"rerun changed marts: ${before.keys.filter(k => before.get(k) != after.get(k)).mkString(",")}")
    checkLog(spark, run, s"$outDir/quality_check_log", built.toSeq)
    // run.py compares each built date's partitions of the five
    // non-session marts with the same dates of the full-history oracle
    Map("warmup_s" -> warmup.getOrElse(0.0), "primary" -> first.reported,
      "secondary" -> rerun.reported,
      "built_dates" -> built.toSeq, "mart_dir" -> outDir,
      "oracle" -> martOracle.filter(_("name") != "session_sequences"))
  }

  // ---------------------------------------------------------------- registry

  def registryMix(spark: SparkSession, run: Run, data: String, work: String,
      names: Seq[(String, String, Boolean)], seed: Long, trace: Boolean): Map[String, Any] = {
    def query(name: String, module: String, kind: String) = {
      Caches.clearAll() // cold: no memo carried over from another query
      val s = spark.newSession()
      if (trace) {
        val ms = run.planMs.getOrElseUpdate(run.calls.size, new java.util.concurrent.atomic.AtomicLong)
        s.listenerManager.register(new QueryExecutionListener {
          def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
            if (funcName == "save")
              ms.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
          def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
        })
      }
      run.call(kind, name, module, timedCall = false) {
        val df = SparkEntry.queries(name)(s, data)
        run.mark = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
      }(_ => None).map(_._2)
    }
    // the whole list takes over a minute per pass on four cores, so
    // only the names marked `timed` (one per module) are timed: that
    // leaves room for a warm-up pass and several timed passes in a run
    val timed = names.collect { case (n, m, true) => (n, m) }
    val warmup = timed.flatMap { case (n, m) => query(n, m, "warmup") }.sum
    val perQuery = timed.map(_._1 -> new Samples).toMap
    val passes = new Samples
    // steal is judged per pass: a single query's call is too short for
    // the jiffy counts to tell a contended call from a clean one
    while (!run.done) {
      val j0 = cpuJiffies(); val p0 = System.nanoTime()
      val times = timed.map { case (n, m) => n -> query(n, m, "query") }
      val (wall, hit) = ((System.nanoTime() - p0) / 1e9, contended(j0, cpuJiffies()))
      if (times.forall(_._2.nonEmpty)) { passes.add(wall, hit); run.account(wall, hit) }
      for ((n, t) <- times; w <- t) perQuery(n).add(w, hit)
    }
    // one value per timed name, its median: a median over the pooled
    // calls of different queries would jump between them
    def median(xs: Seq[Double]) = { val v = xs.sorted; (v((v.size - 1) / 2) + v(v.size / 2)) / 2 }
    // output for the oracle compare, outside the timed calls: one name
    // with oracle SQL per run, rotating through the list by seed
    val withOracle = names.map(_._1).filter(SparkEntry.oracleSql.contains)
    val oracle = Seq(withOracle((seed % withOracle.size).toInt)).flatMap { n =>
      val dir = s"$work/registry_out/$n"
      try {
        SparkEntry.queries(n)(spark.newSession(), data).coalesce(1).write.mode("overwrite").parquet(dir)
        Some(Map("name" -> n, "sql" -> SparkEntry.oracleSql(n), "dir" -> dir))
      } catch { case e: Throwable => run.check(false, s"$n: output write failed: ${e.getMessage}"); None }
    }
    val perName = perQuery.collect { case (n, q) if !q.isEmpty => n -> median(q.reported) }
    Map("warmup_s" -> warmup, "primary" -> perName.values.toSeq, "per_query" -> perName,
      "secondary" -> passes.reported, "oracle" -> oracle)
  }

  // ---------------------------------------------------------------- streaming

  val StreamQueries = Seq("funnel", "traffic", "quality", "unique")

  def stream(spark: SparkSession, run: Run, data: String, work: String,
      names: mutable.HashMap[String, String]): Map[String, Any] = {
    val meta = mapper.readValue(new File(s"$data/backlog_meta.json"), classOf[Map[String, Any]])
    val staged = meta("rows").toString.toLong
    val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
    def drain(dir: String, kind: String, timedCall: Boolean) = {
      var qs: Seq[StreamingQuery] = Nil
      val res = run.call(kind, dir, "streaming", timedCall) {
        qs = StreamingPipeline.start(spark, s"$data/backlog", dir)
        names.synchronized(qs.zip(StreamQueries).foreach { case (q, n) => names(q.id.toString) = n })
        qs.foreach(_.processAllAvailable())
        qs
      } { qs =>
        val rows = qs.map(_.recentProgress.map(_.numInputRows).sum)
        qs.zip(StreamQueries).collectFirst {
          case (q, n) if !q.isActive || q.exception.nonEmpty => s"$n terminated early"
        }.orElse(rows.zip(StreamQueries).collectFirst {
          case (r, n) if r != staged => s"$n drained $r of $staged rows"
        })
      }
      qs.foreach(q => try q.stop() catch { case _: Throwable => () })
      res
    }
    val warmup = drain(s"$work/stream_warm", "warmup", timedCall = false).map(_._2)
    delete(s"$work/stream_warm")
    val (walls, batches) = (new Samples, new Samples)
    var last: Option[String] = None
    var i = 0
    while (!run.done) {
      val dir = s"$work/stream_$i"
      drain(dir, "drain", timedCall = true) match {
        case Some((qs, wall)) =>
          walls.add(wall, run.lastContended)
          for ((q, n) <- qs.zip(StreamQueries); p <- q.recentProgress) {
            val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }
            batches.add(d.getOrElse("triggerExecution", 0L) / 1e3, run.lastContended)
            progress += Map("query" -> n, "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
              "addBatch_ms" -> d.getOrElse("addBatch", 0L), "walCommit_ms" -> d.getOrElse("walCommit", 0L),
              "input_rows" -> p.numInputRows, "drain" -> i,
              "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
          }
          last.foreach(delete)
          last = Some(dir)
        case None => delete(dir)
      }
      i += 1
    }
    // the funnel mart's totals equal the staged counts of finalized windows
    last.foreach { dir =>
      val expect = meta("funnel_totals").asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString.toLong }
      val got = spark.read.parquet(s"$dir/funnel_hourly")
        .agg(sum("views"), sum("clicks"), sum("purchases")).head()
      val seen = Map("views" -> got.getLong(0), "clicks" -> got.getLong(1), "purchases" -> got.getLong(2))
      run.check(seen == expect, s"funnel totals $seen != staged $expect")
    }
    Map("warmup_s" -> warmup.getOrElse(0.0), "primary" -> batches.reported,
      "secondary" -> walls.reported, "stream_progress" -> progress.toSeq, "staged_rows" -> staged)
  }
}
