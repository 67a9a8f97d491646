package graft.perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The benchmark's one session builder. It mirrors `graft.Bench`: local
  * mode on every core, shuffle partitions = cores, AQE on, UTC, tiny
  * retained-UI limits, then `GraftExtensions.register`. The one difference
  * is `spark.local.dir`: Bench uses tmpfs, while the benchmark keeps every
  * write inside its own work directory. */
object Session {
  def settings(cores: Int, work: File): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.app.name" -> "perfbench",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.ui.retainedExecutions" -> "4",
    "spark.ui.retainedJobs" -> "50",
    "spark.ui.retainedStages" -> "100",
    "spark.ui.retainedTasks" -> "1000",
    "spark.worker.ui.retainedExecutors" -> "10",
    "spark.appStateStore.asyncTracking.enable" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.driver.bindAddress" -> "127.0.0.1",
    "spark.local.dir" -> new File(work, "spark-local").getAbsolutePath,
    "spark.sql.warehouse.dir" -> new File(work, "warehouse").getAbsolutePath)

  def build(cores: Int, work: File): SparkSession = {
    val b = SparkSession.builder()
    settings(cores, work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s)
    s
  }
}
