package graft

import java.io.File
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import graft.ml.Similarity
import graft.text.SparkTestSession
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The memo and stage contract every reuse site relies on: one build per
  * (session, family, snapshot) key under concurrency, nested builds,
  * retry after a failed build, and atomic stage publication. */
class StageStoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** A fresh corpus dir: 60 documents in 20 groups of three, each group
    * one exact twin pair plus a one-word edit of it. */
  private def freshCorpus(): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-store").toString
    val docs = (0 until 60).map { i =>
      val g = i % 20
      val base = (0 until 30).map(j => s"w${(g * 37 + j * 11) % 400}")
      val text = if (i < 40) base else base.updated(i % 30, "edited")
      (i + 1L, text.mkString(" "), if (g % 3 == 0) "wiki" else "web")
    }
    docs.toDF("doc_id", "text", "source").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def leftovers(path: String): Seq[String] =
    new File(path).getParentFile.listFiles().map(_.getName)
      .filter(_.startsWith(new File(path).getName + ".")).toSeq

  test("two threads on one key compute once and get the identical result") {
    val dir = freshCorpus()
    val n = new AtomicInteger()
    def get(): AnyRef = StageStore.value(spark, "spec_once", dir, "documents") {
      n.incrementAndGet(); Thread.sleep(300); new Object
    }
    val (a, b) = Await.result(Future(get()).zip(Future(get())), 60.seconds)
    assert(n.get == 1, "the compute must run once per key")
    assert(a eq b, "both callers must get the one computed value")
    // the same for a stage: one write, one published dir
    import spark.implicits._
    val w = new AtomicInteger()
    def build(): String = StageStore.stage(spark, "spec_once", dir, "documents") {
      tmp => w.incrementAndGet(); Thread.sleep(300); Seq(1).toDF("x").write.parquet(tmp)
    }
    val (p, q) = Await.result(Future(build()).zip(Future(build())), 60.seconds)
    assert(w.get == 1, "the stage must be written once per key")
    assert(p == q && spark.read.parquet(p).count() == 1)
    FileUtils.deleteQuietly(new File(p))
    FileUtils.deleteQuietly(new File(dir))
  }

  test("a value call nested inside another key's compute works") {
    val dir = freshCorpus()
    val outer = StageStore.value(spark, "spec_outer", dir, "documents") {
      StageStore.value(spark, "spec_inner", dir, "documents")(21) * 2
    }
    assert(outer == 42)
    assert(StageStore.value(spark, "spec_inner", dir, "documents")(-1) == 21,
      "the inner key was memoized by the nested call")
    FileUtils.deleteQuietly(new File(dir))
  }

  test("a compute that throws is retried by the next call") {
    val dir = freshCorpus()
    val n = new AtomicInteger()
    def get(): Int = StageStore.value(spark, "spec_retry", dir, "documents") {
      if (n.incrementAndGet() == 1) throw new IllegalStateException("boom")
      7
    }
    intercept[IllegalStateException](get())
    assert(get() == 7)
    assert(get() == 7)
    assert(n.get == 2, "one failed and one successful compute")
    FileUtils.deleteQuietly(new File(dir))
  }

  test("a stage write that throws before publish leaves the earlier stage") {
    import spark.implicits._
    val dir = freshCorpus()
    // a first build that throws publishes nothing and leaves no temp dir
    val path = StageStore.stagePath(spark, "spec_stage", dir, "documents")
    intercept[IllegalStateException](
      StageStore.stage(spark, "spec_stage", dir, "documents") { tmp =>
        Seq(1, 2).toDF("x").write.parquet(tmp)
        throw new IllegalStateException("crash between write and publish")
      })
    assert(!new File(path).exists(), "nothing published")
    assert(leftovers(path).isEmpty, s"temp dirs left: ${leftovers(path)}")
    // a good build publishes; a second stage call reuses it
    val out = StageStore.stage(spark, "spec_stage", dir, "documents")(
      Seq(1, 2, 3).toDF("x").write.parquet(_))
    assert(out == path)
    StageStore.stage(spark, "spec_stage", dir, "documents")(_ =>
      fail("a published stage must not be rebuilt"))
    // a rebuild that crashes before its swap leaves the earlier stage
    intercept[IllegalStateException](
      StageStore.restage(spark, "spec_stage", dir, "documents") { tmp =>
        Seq(9).toDF("x").write.parquet(tmp)
        throw new IllegalStateException("crash between write and publish")
      })
    assert(spark.read.parquet(path).as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
    assert(leftovers(path).isEmpty, s"temp dirs left: ${leftovers(path)}")
    // a rebuild that succeeds swaps the new stage in
    StageStore.restage(spark, "spec_stage", dir, "documents")(
      Seq(4).toDF("x").write.parquet(_))
    assert(spark.read.parquet(path).as[Int].collect().toSeq == Seq(4))
    assert(leftovers(path).isEmpty, s"temp dirs left: ${leftovers(path)}")
    FileUtils.deleteQuietly(new File(path))
    FileUtils.deleteQuietly(new File(dir))
  }

  test("q73b and q100 run concurrently on one stage equal a sequential run") {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val concurrentDir = freshCorpus()
    val sequentialDir = freshCorpus()
    val (audit, split) = Await.result(
      Future(rows(Similarity.q73b_dedup_survivorship(spark, concurrentDir)))
        .zip(Future(rows(Similarity.q100_component_split(spark, concurrentDir)))),
      10.minutes)
    val stage = StageStore.stagePath(spark, Similarity.DedupStage,
      concurrentDir, "documents")
    assert(new File(stage).isDirectory, "the shared stage was published")
    assert(leftovers(stage).isEmpty, s"temp dirs left: ${leftovers(stage)}")
    assert(spark.read.parquet(stage).filter("flagged AND NOT is_canonical")
      .count() > 0, "the corpus must hold near-duplicates that drop")
    assert(audit == rows(Similarity.q73b_dedup_survivorship(spark, sequentialDir)))
    assert(split == rows(Similarity.q100_component_split(spark, sequentialDir)))
    Seq(concurrentDir, sequentialDir).foreach { d =>
      FileUtils.deleteQuietly(new File(
        StageStore.stagePath(spark, Similarity.DedupStage, d, "documents")))
      FileUtils.deleteQuietly(new File(d))
    }
  }
}
