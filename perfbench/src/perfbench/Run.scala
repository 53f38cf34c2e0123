package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.graft.GraftSql

import graft.{SparkEntry, Tables}
import graft.functions.Text
import graft.operators.{Geo, Materialize, WordScore}
import graft.plans.{AsofJoin, BandJoin}
import graft.sources.{ReviewSource, TsvSink}

/** One benchmark run of one workload, inside one JVM that hosts the
  * Spark driver and its local executors.
  *
  * Usage: Run <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <artifact>
  * where `dataDir` is the generated review directory for the pipeline
  * workloads and the fixture directory for the registry workload.
  *
  * A unit of work is one pipeline (reviews JSON to a sorted TSV closed
  * on disk, in a fresh session, as `WordScoreMain` runs it) or one pass
  * over the workload's queries (each evaluated in full through
  * `queryExecution.toRdd`, in one long-lived session). Units repeat
  * until `seconds` have passed, at least three times, after untimed
  * warm-up units: in a fresh JVM the units keep getting faster for the
  * first few.
  * With tracing on, every second unit runs with the listener attached
  * and is followed by the layer probes. The run starts and ends with an
  * untraced unit and has at least two traced ones, so each traced unit
  * can be compared with the untraced units on either side of it: that
  * gives the tracing overhead.
  *
  * The last stdout line is a JSON object of raw samples; `run.py` turns
  * it into the metrics. Counters and spans go to `artifact`.
  */
object Run {
  val Cores = 4

  /** registry_fixed: one query from each of the five largest query
    * families (q, e, t, s, p: 82% of the registry), the middle one of
    * the family's name-sorted list. The set is fixed rather than drawn
    * per seed because the queries' fixed costs differ by up to 8x, so a
    * per-seed draw would change the work from run to run; the seed sets
    * the order instead.
    */
  val FixedSample = Seq("e_gini", "p_merkle", "q_sql_interface", "s_knn_graph", "t_llr")

  def querySet(seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(FixedSample)

  /** A timed unit is clean when the hypervisor took less than this share
    * of the CPU time the host wanted during it (/proc/stat steal). On a
    * shared host a disturbed unit measures the neighbours, not the
    * program: untraced runs add units, up to 1.5 times `seconds`, until
    * three are clean, and report the clean ones when there are three.
    */
  val CleanSteal = 0.05

  /** Extra set-ups measured in a pipeline run, besides the one of each
    * timed unit: a warm set-up takes about 0.1 s, so a few samples say
    * little. (On the registry workload the warm-up pass dominates.) */
  val SetupSamples = 6

  /** Untimed pipelines, each in its own session, before the timed ones. */
  val WarmupUnits = 2

  /** (busy, steal) jiffies of the host so far. */
  def cpuJiffies(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f(0) + f(1) + f(2), if (f.length > 7) f(7) else 0L)
  }

  def stealShare(from: (Long, Long), to: (Long, Long)): Double = {
    val steal = to._2 - from._2
    steal.toDouble / math.max(1L, to._1 - from._1 + steal)
  }

  /** One untraced unit: its wall time, the host's steal share
    * during it, and the latencies of its operations. */
  final case class Sample(wall: Double, steal: Double, ops: Seq[Double])

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    if (args.length != 7) {
      System.err.println("Usage: Run <workload> <seed> <seconds> <trace 0|1> <workDir> <dataDir> <artifact>")
      sys.exit(2)
    }
    val run = new Run(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      Paths.get(args(4)), Paths.get(args(5)), Paths.get(args(6)))
    val out = args(0) match {
      case "ws_zipf" | "ws_longtail" => run.pipelines()
      case "registry_fixed" => run.registry()
      case w => System.err.println(s"unknown workload $w"); sys.exit(2)
    }
    println(Json(out))
  }
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
                work: Path, data: Path, artifact: Path) {
  import Run._

  private val trace = new Trace(s"$workload-$seed-${if (traced) 1 else 0}")
  private val observer = new Observer
  private var attempted = 0
  private var failed = 0
  private val errors = ArrayBuffer.empty[String]
  private val setups = ArrayBuffer.empty[Double]
  private val units = ArrayBuffer.empty[Sample] // untraced units
  private val tracedUnits = ArrayBuffer.empty[Double]
  private val layers = ArrayBuffer.empty[Map[String, Double]] // one per traced unit
  private val queryCounters = LinkedHashMap.empty[String, ArrayBuffer[Map[String, Any]]]

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  /** Session bring-up plus graft extension registration. */
  private def bringUp(): SparkSession = {
    val t0 = System.nanoTime()
    val from = trace.now
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    GraftSql.ensureRegistered(s)
    AsofJoin.ensureRegistered(s)
    BandJoin.ensureRegistered(s)
    Geo.ensureRegistered(s)
    setups += secs(t0)
    trace.add(0L, "setup", "setup", from, trace.now)
    s
  }

  private def attach(s: SparkSession): Unit = {
    observer.take()
    s.sparkContext.addSparkListener(observer)
    s.listenerManager.register(observer)
  }

  private def detach(s: SparkSession): Unit = {
    s.sparkContext.removeSparkListener(observer)
    s.listenerManager.unregister(observer)
  }

  private def settle(s: SparkSession): Window = {
    GraftSql.drainListenerBus(s)
    observer.take()
  }

  /** Adds the jobs and stages of `w` to the trace under the spans that
    * submitted them. */
  private def traceJobs(w: Window): Unit = {
    val jobIds = w.jobSpans.map { case (parent, job, start, end) =>
      job -> trace.add(parent, s"job $job", "executor", trace.fromEpochMs(start), trace.fromEpochMs(end))
    }.toMap
    w.stageSpans.foreach { case (job, stage, start, end, tasks) =>
      trace.add(jobIds.getOrElse(job, 0L), s"stage $stage", "executor",
        trace.fromEpochMs(start), trace.fromEpochMs(end), Map("tasks" -> tasks.toDouble))
    }
  }

  private def storage(s: SparkSession): (Int, Long) =
    (s.sparkContext.getPersistentRDDs.size,
      s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)

  private def executorMetrics(w: Window, wallS: Double, fromMs: Long, toMs: Long): Map[String, Double] = Map(
    "executor.jobs" -> w.jobs.toDouble,
    "executor.stages" -> w.stages.toDouble,
    "executor.tasks" -> w.tasks.toDouble,
    "executor.run_s" -> w.runS,
    "executor.cpu_s" -> w.cpuS,
    "executor.gc_s" -> w.gcS,
    "executor.busy_share" -> w.runS / (wallS * Cores),
    "executor.outside_jobs_s" -> w.outsideJobs(fromMs, toMs),
    "executor.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
    "executor.shuffle_read_bytes" -> w.shuffleRead.toDouble,
    "executor.spill_bytes" -> w.spill.toDouble,
    "executor.max_task_share" -> w.maxTaskShare,
    "sources.input_bytes" -> w.inputBytes.toDouble)

  private def planMetrics(executions: Seq[org.apache.spark.sql.execution.QueryExecution],
                          finals: Seq[PlanStats]): Map[String, Double] = {
    val ph = executions.map(PlanStats.phases)
    val st = finals.foldLeft(PlanStats.Zero)(_ + _)
    Map(
      "plans.analysis_s" -> ph.map(_._1).sum,
      "plans.optimize_s" -> ph.map(_._2).sum,
      "plans.physical_s" -> ph.map(_._3).sum,
      "plans.exchanges" -> st.exchanges.toDouble,
      "plans.sorts" -> st.sorts.toDouble,
      "plans.scans" -> st.scans.toDouble)
  }

  /** The word-score chain, one prefix at a time, each evaluated in
    * full: parse only, parse+tokenize, +group-by-sum, +sort
    * (`WordScore.score`), then `TsvSink.write`. Each layer's time is
    * its prefix minus the one before.
    */
  private def probes(s: SparkSession, reviews: => DataFrame, stars: Column, text: Column): Map[String, Double] = {
    def eval(name: String, layer: String)(df: => DataFrame): (Double, DataFrame) =
      trace.span(s, s"probe.$name", layer) { _ =>
        val t0 = System.nanoTime()
        val d = df
        d.queryExecution.toRdd.foreach(_ => ())
        (secs(t0), d)
      }
    def tokens = reviews.select(stars.as("stars_in"), Text.explodedWord(text).as("word"))
    val (scan, _) = eval("scan", "sources")(reviews)
    val (tok, _) = eval("tokenize", "functions")(tokens)
    val (agg, _) = eval("agg", "operators")(tokens
      .select(Text.starsModifierStrict(col("stars_in")).as("modifier"), col("word"))
      .groupBy("word").agg(sum("modifier").as("score")))
    val (sorted, scored) = eval("sort", "operators")(WordScore.score(reviews, stars, text))
    val plan = PlanStats.of(scored.queryExecution.executedPlan)
    val out = work.resolve("out").resolve("probe")
    settle(s)
    val sink = trace.span(s, "probe.sink", "sources") { _ =>
      val t0 = System.nanoTime()
      TsvSink.write(WordScore.score(reviews, stars, text), out.toString)
      secs(t0)
    }
    val w = settle(s)
    traceJobs(w)
    val lastJob = w.stageSpans.map(_._1).maxOption
    val sinkTasks = w.stageSpans.filter(s => lastJob.contains(s._1)).maxByOption(_._2).map(_._5).getOrElse(0)
    val files = Check.partFiles(out)
    val lines = files.map(f => Files.readAllBytes(f).count(_ == '\n'.toByte).toLong).sum
    Map(
      "sources.scan_s" -> scan,
      "functions.tokenize_s" -> (tok - scan),
      "operators.wordscore.agg_s" -> (agg - tok),
      "operators.wordscore.sort_s" -> (sorted - agg),
      "sources.sink_s" -> (sink - sorted),
      "sources.sink_tasks" -> sinkTasks.toDouble,
      "sources.sink_bytes" -> files.map(Files.size).sum.toDouble,
      "functions.tokens" -> plan.generateRows.toDouble,
      "operators.wordscore.combine_ratio" ->
        (if (plan.generateRows > 0) plan.partialAggRows.toDouble / plan.generateRows else 0.0),
      "operators.wordscore.distinct_words" -> lines.toDouble)
  }

  /** Pipeline workloads: one pipeline per fresh session. */
  def pipelines(): Map[String, Any] = {
    val input = data.resolve("reviews.json").toString
    val expected = data.resolve("expected.json")
    val tokens = Check.field(Files.readString(expected), "tokens").toLong
    val out = work.resolve("out").resolve("tsv")

    def pipeline(s: SparkSession, observe: Boolean): Unit = {
      attempted += 1
      val cpu0 = cpuJiffies()
      val fromMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val scored = try trace.span(s, "pipeline", "pipeline") { _ =>
        val df = trace.span(s, "construct", "registry") { _ =>
          WordScore.score(ReviewSource.reviews(s, input), col("stars"), col("text"))
        }
        trace.span(s, "write", "sources") { _ => TsvSink.write(df, out.toString) }
        Some(df)
      } catch { case e: Throwable => fail("pipeline", e); None }
      val ok = scored.isDefined
      val wall = secs(t0)
      val toMs = System.currentTimeMillis()
      if (ok && !Check.tsvMatches(out, expected)) {
        failed += 1
        errors += "pipeline: TSV does not match the expected digest"
      }
      val (pins, pinned) = storage(s)
      val release = trace.span(s, "release", "operators") { _ =>
        val t = System.nanoTime(); Materialize.releaseAll(s); secs(t)
      }
      if (!observe) units += Sample(wall, stealShare(cpu0, cpuJiffies()), Seq(wall))
      else {
        tracedUnits += wall
        val w = settle(s)
        traceJobs(w)
        val writes = w.executions.map(qe => PlanStats.of(qe.executedPlan))
        val construct = trace.spans.filter(_.name == "construct").last
        val m = executorMetrics(w, wall, fromMs, toMs) ++
          planMetrics(scored.map(_.queryExecution).toSeq ++ w.executions, writes) ++ Map(
          "registry.construct_s" -> (construct.end - construct.start) / 1e9,
          "registry.construct_jobs" -> w.jobSpans.count(_._1 == construct.id).toDouble,
          "operators.materialize.pins" -> pins.toDouble,
          "operators.materialize.pinned_bytes" -> pinned.toDouble,
          "operators.materialize.release_s" -> release)
        val layer = m ++ probes(s, ReviewSource.reviews(s, input), col("stars"), col("text"))
        detach(s)
        layers += layer
      }
    }

    def unit(i: Int, observe: Boolean): Unit = {
      val s = bringUp()
      if (observe) attach(s)
      trace.span(s, s"unit $i", "run") { _ => pipeline(s, observe) }
      s.stop()
    }
    // untimed warm-up: units as the timed ones run them, the first one
    // in a cold JVM
    (1 to WarmupUnits).foreach(i => unit(-i, observe = false))
    units.clear()
    (1 to SetupSamples).foreach(_ => bringUp().stop())
    timedUnits(unit)
    finish(Map("tokens" -> tokens))
  }

  /** The registry workload: passes over the query set in one session. */
  def registry(): Map[String, Any] = {
    val dir = data.toString
    val names = querySet(seed)
    val queries = SparkEntry.queries
    val oracleDir = work.resolve("oracle")
    val rows = LinkedHashMap.empty[String, ArrayBuffer[Long]]
    val warmupFailed = ArrayBuffer.empty[String]
    // test seam for the counter diff: an extra exchange on one query's
    // timed evaluations (row counts stay the same; the warm-up results
    // that the oracle checks are untouched)
    val plant = sys.env.get("PERFBENCH_PLANT_EXCHANGE")

    // set up three times; the last session is the one measured
    bringUp().stop()
    bringUp().stop()
    val s = bringUp()

    // untimed warm-up pass; its results go to parquet, as graft.Verify
    // writes them, for the oracle check. Collecting first keeps the
    // query's own parallelism: a coalesce(1) on the frame would run its
    // last stage as one task.
    val w0 = System.nanoTime()
    names.foreach { n =>
      attempted += 1
      try {
        val df = queries(n)(s, dir)
        val result = df.collect()
        Materialize.releaseAll(s)
        s.createDataFrame(java.util.Arrays.asList(result: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(oracleDir.resolve(n).toString)
      } catch { case e: Throwable => fail(n, e); warmupFailed += n }
      finally Materialize.releaseAll(s)
    }
    val warmup = secs(w0)
    Files.writeString(oracleDir.resolve("oracle_sql.json"),
      Json(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap))

    def pass(observe: Boolean): Unit = {
      val cpu0 = cpuJiffies()
      val ops = ArrayBuffer.empty[Double]
      var wall = 0.0
      val acc = LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      names.foreach { n =>
        attempted += 1
        val fromMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var constructSpan = 0L
        val count = try trace.span(s, s"query $n", "query") { _ =>
          val df = trace.span(s, "construct", "registry") { id =>
            constructSpan = id
            val d = queries(n)(s, dir)
            if (plant.contains(n)) d.repartition(Cores) else d
          }
          val c = trace.span(s, "execute", "plans") { _ => df.queryExecution.toRdd.count() }
          Some((c, df))
        } catch { case e: Throwable => fail(n, e); None }
        val lat = secs(t0)
        val toMs = System.currentTimeMillis()
        val constructS = trace.spans.find(_.id == constructSpan).map(c => (c.end - c.start) / 1e9).getOrElse(0.0)
        val (pins, pinned) = if (observe) storage(s) else (0, 0L)
        val release = trace.span(s, "release", "operators") { _ =>
          val t = System.nanoTime(); Materialize.releaseAll(s); secs(t)
        }
        count.foreach { case (c, _) => rows.getOrElseUpdate(n, ArrayBuffer.empty) += c }
        wall += lat
        if (!observe) ops += lat
        else {
          val w = settle(s)
          traceJobs(w)
          val finalPlan = count.map { case (_, df) => PlanStats.of(df.queryExecution.executedPlan) }
            .getOrElse(PlanStats.Zero)
          val m = executorMetrics(w, lat, fromMs, toMs) ++
            planMetrics(w.executions ++ count.map(_._2.queryExecution), finalPlan :: Nil) ++ Map(
              "registry.construct_s" -> constructS,
              "registry.construct_jobs" -> w.jobSpans.count(_._1 == constructSpan).toDouble,
              "operators.materialize.pins" -> pins.toDouble,
              "operators.materialize.pinned_bytes" -> pinned.toDouble,
              "operators.materialize.release_s" -> release)
          m.foreach { case (k, v) => acc(k) += v }
          queryCounters.getOrElseUpdate(n, ArrayBuffer.empty) += m ++ Map(
            "rows" -> count.map(_._1).getOrElse(-1L), "latency_s" -> lat,
            "plans.scan_rows" -> finalPlan.scanRows)
        }
      }
      if (!observe) units += Sample(wall, stealShare(cpu0, cpuJiffies()), ops.toSeq)
      else {
        tracedUnits += wall
        // ratios over the pass, not sums of per-query ratios
        acc("executor.busy_share") = acc("executor.run_s") / (wall * Cores)
        acc("executor.max_task_share") = queryCounters.values.flatMap(_.lastOption)
          .map(_("executor.max_task_share").asInstanceOf[Double]).maxOption.getOrElse(0.0)
        val layer = acc.toMap ++ probes(s, Tables.documents(s, dir),
          col("doc_id") % 5 + 1, col("text"))
        layers += layer
      }
    }

    // a second untimed pass through the same path as the timed ones
    pass(observe = false)
    units.clear()
    timedUnits { (i, observe) =>
      if (observe) attach(s)
      trace.span(s, s"unit $i", "run") { _ => pass(observe) }
      if (observe) detach(s)
    }
    s.stop()
    finish(Map("warmup_s" -> warmup, "rows" -> rows.map { case (k, v) => k -> v.toSeq }.toMap,
      "warmup_failed" -> warmupFailed.toSeq, "oracle_dir" -> oracleDir.toString))
  }

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def clean: Int = units.count(_.steal < CleanSteal)

  /** Runs timed units until `seconds` have passed and at least three
    * ran. Untraced runs then add units, up to 1.5 times `seconds`,
    * until three are clean. Traced runs alternate untraced (even) and
    * traced (odd) units and stop after an untraced one, with at least
    * two traced units.
    */
  private def timedUnits(unit: (Int, Boolean) => Unit): Unit = {
    val start = System.nanoTime()
    def more(i: Int) =
      if (traced) i < 5 || i % 2 == 0 || secs(start) < seconds
      else i < 3 || secs(start) < seconds || (clean < 3 && secs(start) < 1.5 * seconds)
    var i = 0
    while (more(i)) {
      val observe = traced && i % 2 == 1
      trace.recording = observe
      unit(i, observe)
      i += 1
    }
  }

  private def finish(extra: Map[String, Any]): Map[String, Any] = {
    val rss = peakRssMb
    val used = units.indices.filter(k => clean < 3 || units(k).steal < CleanSteal)
    val self = trace.selfTimeByLayer
    Files.createDirectories(artifact.getParent)
    Files.writeString(artifact, Json(Map(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "units" -> layers.toSeq,
      "queries" -> queryCounters.map { case (k, v) => k -> v.toSeq }.toMap,
      "self_time_s" -> self,
      "spans" -> (if (traced) trace.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.start, "end_ns" -> s.end,
        "run" -> trace.runId, "counts" -> s.counts)).toSeq else Nil))))
    Map("attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "setup_samples" -> setups.toSeq, "unit_samples" -> units.map(_.wall).toSeq,
      "unit_steal" -> units.map(_.steal).toSeq, "used_units" -> used,
      "traced_unit_samples" -> tracedUnits.toSeq, "op_samples" -> units.map(_.ops).toSeq,
      "layer_units" -> layers.toSeq, "peak_rss_mb" -> rss) ++ extra
  }
}

/** Output checks, shared by the runs and the self-tests.
  *
  * Usage: Check tsv <dir> <expected.json>   exit 0 if the TSV matches
  *        Check sample <seed>               print registry_fixed's order
  */
object Check {
  def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)

  def field(json: String, key: String): String =
    raw""""$key":"?([^,"}]*)""".r.findFirstMatchIn(json).map(_.group(1))
      .getOrElse(throw new IllegalStateException(s"$key missing from expected.json"))

  /** SHA-256 of the part files, in name order, against the generator's digest. */
  def tsvMatches(dir: Path, expected: Path): Boolean = {
    val md = MessageDigest.getInstance("SHA-256")
    partFiles(dir).foreach(f => md.update(Files.readAllBytes(f)))
    md.digest().map(b => f"$b%02x").mkString == field(Files.readString(expected), "sha256")
  }

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("tsv", dir, expected) => sys.exit(if (tsvMatches(Paths.get(dir), Paths.get(expected))) 0 else 1)
    case Seq("sample", seed) => println(Run.querySet(seed.toLong).mkString(","))
    case _ =>
      System.err.println("Usage: Check tsv <dir> <expected.json> | Check sample <seed>")
      sys.exit(2)
  }
}
