package graft.perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own arithmetic and determinism. */
class SelfSpec extends AnyFunSuite {

  private def tree(dir: File): Map[String, Seq[Byte]] = {
    val root = dir.toPath
    val files = Files.walk(root).filter(Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
    files.map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  // forked tests run in the benchmark's directory: keep their files in target/
  private def tmp(): File = {
    val base = new File("target/selftest")
    base.mkdirs()
    Files.createTempDirectory(base.toPath, "gen").toFile
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    val (a, b) = (tmp(), tmp())
    try {
      val ta = Gen.tickets(a, 7, 40)
      val tb = Gen.tickets(b, 7, 40)
      val ca = Gen.corpus(a, 7, 300)
      val cb = Gen.corpus(b, 7, 300)
      assert(tree(ta.dir).keySet.contains("tickets.json"))
      assert(tree(ca.dir).keySet.contains("documents.parquet/part-00000.parquet"))
      assert(tree(ta.dir) == tree(tb.dir))
      assert(tree(ca.dir) == tree(cb.dir))
      assert(tree(Gen.tickets(a, 8, 40).dir) != tree(ta.dir))
      assert(tree(Gen.corpus(a, 8, 300).dir) != tree(ca.dir))
    } finally { Gen.deleteTree(a); Gen.deleteTree(b) }
  }

  test("the manifest's exact-duplicate removals follow q70's bench-bucket rule") {
    val d = tmp()
    try {
      val c = Gen.corpus(d, 3, 500)
      assert(c.exactDupsPlanted > 0 && c.exactDupRemovals > 0)
      assert(c.nonBenchDocs == (0 until 500).count(i => !Gen.isBench(i.toLong)))
      // md5("3") = eccbc87e...; a doc id whose md5 starts with 'f' is a
      // benchmark document
      assert(!Gen.isBench(3L))
      assert((0 until 500).exists(i => Gen.isBench(i.toLong)))
    } finally Gen.deleteTree(d)
  }

  test("the tail percentile is the highest with at least 10 samples above it") {
    assert(Stats.tailPercentile(10).isEmpty)
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    (11 to 400).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val p = Stats.tailPercentile(n).get
      def above(q: Int) = xs.count(_ > Stats.percentile(xs, q))
      assert(above(p) >= 10, s"n=$n p=$p")
      assert(p == 100 || above(p + 1) < 10, s"n=$n p=$p is not the highest")
    }
    assert(Stats.percentile(Seq(5.0, 1.0, 3.0), 50) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("self time subtracts the union of overlapping children") {
    def span(id: Long, parent: Long, s: Long, e: Long) = {
      val sp = new Span(id, parent, 1, s"s$id", s, 0)
      sp.endNs = e
      sp
    }
    val spans = Seq(span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 60),
      span(4, 1, 90, 120), span(5, 2, 15, 20))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 100 - 50 - 10) // children cover [10,60) and [90,100)
    assert(self(2) == 30 - 5)
    assert(self(3) == 30 && self(4) == 30 && self(5) == 5)
    assert(Spans.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (21L, 22L))) == 20)
  }

  // Known program defect, kept in view here (perfbench/NOTES.md, "Known
  // program defect"): a topic word that occurs in every sliding window has
  // an all-zero NPMI vector, and c_v then divides by its zero norm. The
  // test reports pending while the defect stands, and fails once the
  // program is fixed, as a reminder to drop `pendingUntilFixed`.
  test("c_v coherence of a topic word that occurs in every window is finite") {
    val work = tmp()
    val s = Session.build(1, work)
    try pendingUntilFixed {
      import s.implicits._
      val tokens = Seq((1L, Seq("a", "b")), (2L, Seq("a", "c"))).toDF("doc_id", "tokens")
      val rows = graft.ml.Coherence.cv(s, tokens, Seq(Seq("a", "b"))).collect()
      assert(rows.length == 1 && java.lang.Double.isFinite(rows(0).getAs[Double]("coherence")))
    } finally { s.stop(); Gen.deleteTree(work) }
  }

  test("the digest ignores row order and sees changed or duplicated rows") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", DoubleType),
      StructField("xs", ArrayType(StringType))))
    val rows = Seq(Row(1L, 0.5, Seq("a")), Row(2L, -0.0, Seq.empty[String]),
      Row(3L, null, Seq("b", "c")))
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.reverse) == d)
    assert(Digest.of(schema, rows.permutations.drop(3).next()) == d)
    assert(Digest.of(schema, rows :+ rows.head) != d)
    assert(Digest.of(schema, rows.updated(0, Row(1L, 0.25, Seq("a")))) != d)
    assert(Digest.of(StructType(schema.fields.reverse), rows) != d)
  }
}
