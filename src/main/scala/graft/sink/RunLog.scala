package graft.sink

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** S4 structured run log (SURVEY §2.1; app.py:343-355 writes a JSON-lines
  * run log through a Qt logging handler). The Spark-native equivalent is a
  * `QueryExecutionListener`: one JSON line per completed query with
  * wall-clock and outcome — observability without touching any data path.
  * Driver-side by design (one line per *query*, not per row). */
object RunLog {

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** Register a listener appending JSON lines to `path`. Returns the
    * listener so callers/tests can unregister it. */
  def attach(spark: SparkSession, path: String): QueryExecutionListener = {
    val p = Paths.get(path)
    if (p.getParent != null) Files.createDirectories(p.getParent)
    val listener = new QueryExecutionListener {
      // a failed query reports no duration, so its line logs null
      private def write(qe: QueryExecution, durationNs: Option[Long],
          status: String, detail: String): Unit = {
        val line =
          s"""{"status":"$status","duration_sec":""" +
            durationNs.map(ns => (ns / 1e9).toString).getOrElse("null") +
            s""","plan":"${esc(qe.executedPlan.nodeName)}"""" +
            (if (detail.isEmpty) "}" else s""","detail":"${esc(detail)}"}""") +
            "\n"
        Files.write(p, line.getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = write(qe, Some(durationNs), "ok", funcName)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = write(qe, None, "error",
        s"$funcName: ${exception.getMessage}")
    }
    spark.listenerManager.register(listener)
    listener
  }
}
