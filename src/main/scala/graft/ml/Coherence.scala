package graft.ml

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** c_v topic coherence (SURVEY.md §2.6 M4; gensim
  * `CoherenceModel(coherence="c_v")`, LDA_logic.py:342-349) rebuilt as pure
  * DataFrame algebra — no Spark builtin exists.
  *
  * Following Röder, Both & Hinneburg, "Exploring the Space of Topic
  * Coherence Measures" (WSDM 2015): boolean word-window co-occurrence
  * probabilities → NPMI similarity vectors → one-set cosine segmentation →
  * mean per topic, over gensim's TRUE SLIDING window (size 110, step 1;
  * docs shorter than 110 tokens form one window) — round-4 missing item 3
  * closed; CoherenceSpec pins the semantics to a brute-force window
  * enumeration. The ×110 sliding blowup never touches the corpus: tokens
  * are filtered to the ≤ topics×topN topic words FIRST, and each surviving
  * occurrence expands to its covering window-start RANGE (a sequence
  * explode bounded by 110), so corpus cost stays one linear scan + ~110×
  * the topic-word substream — the same shape at 100 TB.
  *
  * Everything except the (topics × topN²)-sized pair grid stays
  * distributed; the grid itself is a few hundred literal rows.
  */
object Coherence {

  val WindowSize = 110

  /** Per-topic c_v coherence.
    * @param tokensDf   (doc_id LONG, tokens ARRAY<STRING>) corpus
    * @param topicWords top-N words per topic (small, from describeTopics)
    * @return (topic INT, coherence DOUBLE)
    */
  def cv(s: SparkSession, tokensDf: DataFrame,
      topicWords: Seq[Seq[String]]): DataFrame = {
    import s.implicits._
    val allWords = topicWords.flatten.distinct

    // Boolean window-word incidence over sliding windows, restricted to
    // topic words up front — the only corpus-wide pass. An occurrence at
    // `pos` in a doc of length L is visible from window starts
    // [max(0, pos-109), min(pos, max(0, L-110))]: explode that start range
    // (≤ 110 rows, topic-word occurrences only), then dedup (win, word).
    val lastStart = greatest(lit(0), col("len") - WindowSize)
    val winWord = tokensDf
      .select(col("doc_id"), size(col("tokens")).as("len"),
        posexplode(col("tokens")).as(Seq("pos", "word")))
      .filter(col("word").isin(allWords.map(x => x: Any): _*))
      .select(col("doc_id"), col("word"),
        explode(sequence(
          greatest(lit(0), col("pos") - (WindowSize - 1)),
          least(col("pos"), lastStart))).as("start"))
      .select(concat_ws(":", col("doc_id"), col("start")).as("win"),
        col("word"))
      .distinct()

    // Total window count W over the whole corpus (not only topic windows):
    // max(1, L-109) sliding windows per document.
    val totalWindows = tokensDf
      .agg(sum(greatest(lit(1L),
        size(col("tokens")).cast("long") - (WindowSize - 1))).cast("long"))
      .as[Long].head().max(1L)

    val occ = winWord.groupBy(col("word")).agg(count(lit(1)).as("occ"))
    val joint = winWord.as("x").join(winWord.as("y"), "win")
      .select(col("x.word").as("wi"), col("y.word").as("wj"))
      .groupBy(col("wi"), col("wj")).agg(count(lit(1)).as("joint"))

    // Full (topic, wi, wj) grid as a literal frame, left-joined to counts.
    val grid = topicWords.zipWithIndex.flatMap { case (ws, t) =>
      for (a <- ws; b <- ws) yield (t, a, b)
    }.toDF("topic", "wi", "wj")

    val eps = 1e-12
    val w = lit(totalWindows.toDouble)
    val npmi = grid
      .join(occ.select(col("word").as("wi"), col("occ").as("occ_i")), Seq("wi"), "left")
      .join(occ.select(col("word").as("wj"), col("occ").as("occ_j")), Seq("wj"), "left")
      .join(joint, Seq("wi", "wj"), "left")
      .select(col("topic"), col("wi"), col("wj"),
        {
          val pi = coalesce(col("occ_i"), lit(0)) / w
          val pj = coalesce(col("occ_j"), lit(0)) / w
          val pij = coalesce(col("joint"), lit(0)) / w
          (log((pij + eps) / (pi * pj + eps)) / -log(pij + eps)).as("npmi")
        })

    // One-set segmentation: cos(v_i, Σ_k v_k) per topic word, then mean.
    // A zero vector (a word in every window has NPMI 0 with every word)
    // has no direction: it contributes cosine 0 instead of dividing by 0.
    val svec = npmi.groupBy(col("topic"), col("wj"))
      .agg(sum(col("npmi")).as("s_j"))
    val snorm = svec.groupBy(col("topic"))
      .agg(sqrt(sum(col("s_j") * col("s_j"))).as("s_norm"))
    val perWord = npmi.join(svec, Seq("topic", "wj"))
      .groupBy(col("topic"), col("wi"))
      .agg(
        sum(col("npmi") * col("s_j")).as("dot"),
        sqrt(sum(col("npmi") * col("npmi"))).as("v_norm"))
    perWord.join(snorm, "topic")
      .select(col("topic"), col("wi"),
        when(col("v_norm") * col("s_norm") === 0.0, lit(0.0))
          .otherwise(col("dot") / (col("v_norm") * col("s_norm"))).as("cos"))
      .groupBy(col("topic"))
      .agg(avg(col("cos")).as("coherence"))
      .orderBy(col("topic"))
  }
}
