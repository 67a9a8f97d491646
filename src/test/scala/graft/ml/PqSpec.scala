package graft.ml

import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** r20: the PQ encode/ADC-table kernels ([[PqArgminCode]]/[[PqAdcTable]])
  * replaced the inline 16-dot expression arrays (whose generated class
  * cost ~2 s of Janino compile per bench run and fell back to interpreted
  * eval). The replacement claim is BIT-identity, not approximation — this
  * spec pins the kernels against the retired expression formulation,
  * built op-for-op the way pqEncode/pqQueryTablesOf used to build it. */
class PqSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val mSub = 4
  private val k = 16
  private val sub = 8

  private def cents: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val rnd = new scala.util.Random(11)
    IndexedSeq.fill(mSub)(IndexedSeq.fill(k)(IndexedSeq.fill(sub)(rnd.nextGaussian())))
  }

  private def vecs = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (0L until 500L).map(i =>
      (i, Array.fill(mSub * sub)(rnd.nextGaussian()))).toDF("vec_id", "emb")
  }

  test("pq_argmin_code is bit-identical to the retired expression argmin") {
    val cs = cents
    val ss = cs.map(_.map(_.map(x => x * x).sum))
    val e = vecs
    // the retired formulation, op-for-op (typedlit codebook rows, -2·dot
    // + ss elements, array_position(array_min) − 1)
    var legacy = e
    for (m <- 0 until mSub) {
      val xs = expr(s"slice(emb, ${m * sub + 1}, $sub)")
      val sc = array((0 until k).map(j =>
        lit(-2.0) * VecFunctions.dot_d(xs, typedlit(cs(m)(j))) + lit(ss(m)(j))): _*)
      legacy = legacy.withColumn("__sc", sc)
        .withColumn(s"c$m",
          (expr("array_position(__sc, array_min(__sc))") - 1).cast("int"))
        .drop("__sc")
    }
    val kernel = e.select(col("vec_id") +:
      (0 until mSub).map(m => VecFunctions.pq_argmin_code(
        expr(s"slice(emb, ${m * sub + 1}, $sub)"), cs(m), ss(m)).as(s"c$m")): _*)
    val l = legacy.select(col("vec_id") +: (0 until mSub).map(m => col(s"c$m")): _*)
      .orderBy("vec_id").collect().map(_.toSeq)
    val n = kernel.orderBy("vec_id").collect().map(_.toSeq)
    assert(l.toSeq == n.toSeq)
  }

  test("pq_adc_table is bit-identical to the retired expression table") {
    val cs = cents
    val ss = cs.map(_.map(_.map(x => x * x).sum))
    val q = vecs.withColumnRenamed("emb", "qemb")
    var legacy = q
    for (m <- 0 until mSub) {
      val qs = expr(s"slice(qemb, ${m * sub + 1}, $sub)")
      legacy = legacy.withColumn(s"t$m", array((0 until k).map(j =>
        VecFunctions.dot_d(qs, qs) + lit(-2.0) * VecFunctions.dot_d(qs, typedlit(cs(m)(j))) + lit(ss(m)(j))): _*))
    }
    var kern = q
    for (m <- 0 until mSub) {
      kern = kern.withColumn(s"t$m", VecFunctions.pq_adc_table(
        expr(s"slice(qemb, ${m * sub + 1}, $sub)"), cs(m), ss(m)))
    }
    val cols = col("vec_id") +: (0 until mSub).map(m => col(s"t$m"))
    val l = legacy.select(cols: _*).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), (1 to mSub).map(i => r.getSeq[Double](i))))
    val n = kern.select(cols: _*).orderBy("vec_id").collect()
      .map(r => (r.getLong(0), (1 to mSub).map(i => r.getSeq[Double](i))))
    // exact double equality, element-wise — this is a bit-identity claim
    assert(l.toSeq == n.toSeq)
  }

  test("argmin tie resolves to the FIRST minimal index, like array_position") {
    // two identical codebook rows → bit-equal scores; the retired
    // array_position(array_min) picked the first — so must the kernel
    val row = IndexedSeq(1.0, 2.0, 3.0, 4.0)
    val cs: IndexedSeq[IndexedSeq[Double]] =
      IndexedSeq(IndexedSeq(9.0, 9.0, 9.0, 9.0), row, row)
    val ss = cs.map(_.map(x => x * x).sum)
    import spark.implicits._
    val df = Seq((1L, Array(1.0, 2.0, 3.0, 4.0))).toDF("vec_id", "emb")
    val got = df.select(VecFunctions.pq_argmin_code(
      col("emb"), cs, ss).as("c")).head().getInt(0)
    assert(got == 1, s"tie must resolve to first minimal index, got $got")
  }

  test("an all-NaN slice encodes to -1 and its ADC distance is null, not an error") {
    val cs = cents
    val ss = cs.map(_.map(_.map(x => x * x).sum))
    import spark.implicits._
    val df = Seq((1L, Array.fill(mSub * sub)(Double.NaN),
      Array.fill(mSub * sub)(0.5))).toDF("vec_id", "emb", "qemb")
    val codes = (0 until mSub).map(m => VecFunctions.pq_argmin_code(
      expr(s"slice(emb, ${m * sub + 1}, $sub)"), cs(m), ss(m)).as(s"c$m"))
    val tables = (0 until mSub).map(m => VecFunctions.pq_adc_table(
      expr(s"slice(qemb, ${m * sub + 1}, $sub)"), cs(m), ss(m)).as(s"t$m"))
    val r = df.select(codes ++ tables: _*)
      .select(col("c0"), Similarity.pqAdcDist(mSub).as("adist")).head()
    assert(r.getInt(0) == -1, "every score is NaN: the clamped code is -1")
    assert(r.isNullAt(1), s"a -1 code must give a null distance, got ${r.get(1)}")
  }
}
