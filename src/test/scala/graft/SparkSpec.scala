package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session — getOrCreate
  * returns the same instance across suites, keeping `sbt test` fast).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Run `body` while recording every task's shuffle-read record count
    * per stage — the shared harness behind the skew-bound specs
    * (salted joins, dedup hot blocks): returns body's result plus
    * stageId → per-task shuffle-read records. Drains the listener bus
    * before unregistering so late task-end events are counted.
    */
  def measureShuffleReads[T](body: => T): (T, Map[Int, Seq[Long]]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val perStage = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val tm = te.taskMetrics
        if (tm != null) perStage.computeIfAbsent(te.stageId,
          _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          .add(tm.shuffleReadMetrics.recordsRead)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val out = try {
      val r = body
      org.apache.spark.sql.graft.GraftSql.drainListenerBus(spark)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    (out, perStage.asScala.map { case (s, q) => s -> q.asScala.toSeq }.toMap)
  }

  /** Run `body` with the given session confs set, restoring each
    * previous value (or unsetting it) after.
    */
  def withSQLConf[T](pairs: (String, String)*)(body: => T): T = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Scope AQE partition coalescing off (it legitimately re-merges
    * small even shares and muddies balance measurements).
    */
  def withoutCoalescing[T](body: => T): T =
    withSQLConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
