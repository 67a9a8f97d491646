package graft.streaming

import java.sql.Timestamp

import graft.StageStore
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-01 ${10 + minute / 60}%02d:${minute % 60}%02d:00")

  test("streaming sessionize matches gap semantics; watermark flushes state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessions.Ev]
    val q = Sessions.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      // user 1: events at t0, t10, t20 (one session), then t80 (new session)
      // user 2: single event at t5
      input.addData(
        Sessions.Ev(1, ts(0)), Sessions.Ev(1, ts(10)), Sessions.Ev(1, ts(20)),
        Sessions.Ev(2, ts(5)), Sessions.Ev(1, ts(80)))
      q.processAllAvailable()
      // sentinel far in the future advances the watermark past every gap
      input.addData(Sessions.Ev(99, ts(600)))
      q.processAllAvailable()
      input.addData(Sessions.Ev(98, ts(1200))) // second advance triggers timeouts
      q.processAllAvailable()

      val out = spark.table("sessions_out")
        .filter(col("user_id") < 90)
        .orderBy(col("user_id"), col("start"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      assert(out.toSeq == Seq(
        (1L, ts(0), ts(20), 3L),
        (1L, ts(80), ts(80), 1L),
        (2L, ts(5), ts(5), 1L)))
    } finally q.stop()
  }

  test("streaming bloom decontamination gate matches the batch scorer") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // the batch reference: per-doc bloom hit counts over the same filter
    val batch = graft.ml.Bloom.m_bloom_decontaminate(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // rebuild the same protected-gram filter the batch query embeds
    val grams = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), graft.text.Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(col("doc_id"),
        substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
          .as("bucket"),
        explode(expr("array_distinct(transform(sequence(1, size(t)-4)," +
          " i -> concat_ws(' ', element_at(t,i), element_at(t,i+1)," +
          " element_at(t,i+2), element_at(t,i+3), element_at(t,i+4))))")).as("g"))
    val benchGrams = grams.filter(col("bucket") === "f")
      .select(col("g")).distinct()
    val bytes = graft.ml.Bloom.buildFilter(benchGrams, col("g"),
      expectedItems = math.max(benchGrams.count(), 1024L), fpp = 0.01)
    // stream the corpus docs through the stateless gate
    val corpus = graft.Tables.documents(spark, dir)
      .filter(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
        =!= "f")
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = Sessions.decontaminateStream(
      input.toDF().toDF("doc_id", "text"), "text", bytes)
      .writeStream.format("memory").queryName("decon_out")
      .outputMode("append").start()
    try {
      input.addData(corpus.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("decon_out")
        .filter(col("n_grams") >= 1)
        .collect().map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_grams"), r.getAs[Long]("n_hit_bloom"))).toMap
      assert(streamed == batch,
        "stateless streaming gate must score identically to the batch query")
    } finally q.stop()
  }

  test("streaming near-dup gate emits the corpus band collisions, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val index = graft.text.TextOps.minhashBands(spark, dir)
    index.cache()
    try {
      val docs = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // batch reference: the same gate applied to the batch frame
      val batch = Sessions.nearDupCandidates(docs, "doc_id", "text", index)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
        .toSet
      // every doc collides with itself in the index; the gate filters
      // self-matches, so a doc with a true near-dup appears, others don't
      assert(batch.nonEmpty, "fixture corpus has near-dup band collisions")
      assert(batch.forall { case (id, _, _, c) => id != c }, "no self matches")
      val input = MemoryStream[(Long, String)]
      val q = Sessions.nearDupCandidates(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", index)
        .writeStream.format("memory").queryName("neardup_out")
        .outputMode("append").start()
      try {
        input.addData(docs.collect().map(r => (r.getLong(0), r.getString(1)))
          .toIndexedSeq: _*)
        q.processAllAvailable()
        val streamed = spark.table("neardup_out").collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
          .toSet
        assert(streamed == batch,
          "stateless stream-static gate must match the batch plan")
      } finally q.stop()
    } finally index.unpersist()
  }

  test("composed streaming curation gate: decon + quality parity with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // batch references on the same corpus: q87 logits + bloom verdicts
    val q87 = graft.text.CorpusFilters.q87_quality_classifier(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("logit_r"), r.getAs[Boolean]("keep"))).toMap
    val grams = graft.Tables.documents(spark, dir)
      .select(graft.text.Cleanse.tokens(col("text")).as("t"))
      .filter(size(col("t")) >= 5)
      .select(explode(expr("array_distinct(transform(sequence(1, size(t)-4)," +
        " i -> concat_ws(' ', element_at(t,i), element_at(t,i+1)," +
        " element_at(t,i+2), element_at(t,i+3), element_at(t,i+4))))")).as("g"))
      .distinct()
    val bytes = graft.ml.Bloom.buildFilter(grams, col("g"),
      expectedItems = math.max(grams.count(), 1024L), fpp = 0.01)
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = Sessions.curationGateStream(
        input.toDF().toDF("doc_id", "text"), "text", bytes)
      .writeStream.format("memory").queryName("curation_out")
      .outputMode("append").start()
    try {
      input.addData(corpus.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (Option(r.getAs[Any]("quality_logit")),
            r.getAs[Boolean]("contaminated"), r.getAs[Boolean]("keep"))).toMap
      // every doc with >= 5 tokens is contaminated (the filter was built
      // over ALL corpus 5-grams and Bloom has no false negatives), so its
      // keep must be false regardless of quality
      val nToks = graft.Tables.documents(spark, dir)
        .select(col("doc_id"),
          size(graft.text.Cleanse.tokens(col("text"))).as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      streamed.foreach { case (id, (_, contaminated, keep)) =>
        if (nToks(id) >= 5) {
          assert(contaminated, s"doc $id has ${nToks(id)} tokens but was " +
            "not flagged by a filter built over all corpus 5-grams")
          assert(!keep, s"doc $id is contaminated but kept")
        }
      }
      assert(nToks.values.count(_ >= 5) > 0,
        "fixture must exercise the contaminated path")
      // ...and the quality logits must equal the batch q87 scorer's
      q87.foreach { case (id, (logit, _)) =>
        val (sLogit, _, _) = streamed(id)
        assert(sLogit.contains(logit),
          s"doc $id: stream logit $sLogit != batch $logit")
      }
      // keep ⇔ clean AND logit ≥ 0, doc-for-doc
      streamed.foreach { case (id, (sLogit, contaminated, keep)) =>
        val expected = !contaminated &&
          sLogit.exists(_.asInstanceOf[Double] >= 0)
        assert(keep == expected, s"doc $id keep=$keep expected=$expected")
      }
    } finally q.stop()
  }

  test("streaming LM quality gate matches batch q117 scores across batch splits") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (tri, bi, uni) = graft.text.CorpusFilters.lmModelSets(spark, dir)
    assert(tri.nonEmpty && bi.nonEmpty && uni.nonEmpty, "trained sets non-empty")
    val batch = graft.text.CorpusFilters.q117_ngramlm_quality(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("score_sum"),
          r.getAs[Long]("n_l3"), r.getAs[Long]("n_l2"),
          r.getAs[Long]("n_l1"), r.getAs[Long]("n_l0")))).toMap
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val cut = 2000 // fixed permille cutoff the batch run would calibrate
    val input = MemoryStream[(Long, String)]
    val q = Sessions.lmQualityStream(
        input.toDF().toDF("doc_id", "text"), "text", tri, bi, uni, cut)
      .writeStream.format("memory").queryName("lm_out")
      .outputMode("append").start()
    try {
      // three micro-batches: the gate is stateless, so the split is inert
      corpus.grouped(math.max(1, corpus.length / 3 + 1)).foreach { p =>
        input.addData(p.toIndexedSeq: _*); q.processAllAvailable()
      }
      val streamed = spark.table("lm_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("score_sum"),
            r.getAs[Long]("n_l3"), r.getAs[Long]("n_l2"),
            r.getAs[Long]("n_l1"), r.getAs[Long]("n_l0")),
            r.getAs[Boolean]("keep"))).toMap
      assert(streamed.keySet == batch.keySet, "same doc set as batch q117")
      batch.foreach { case (id, scores) =>
        val (got, keep) = streamed(id)
        assert(got == scores, s"doc $id: stream $got != batch $scores")
        assert(keep == (1000L * scores._2 >= cut.toLong * scores._1),
          s"doc $id keep flag vs the integer cutoff rule")
      }
      // the cutoff must actually split the fixture (no vacuous gate)
      val keeps = streamed.values.map(_._2).toSeq
      assert(keeps.contains(true) && keeps.contains(false),
        "fixture must exercise both sides of the cutoff")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch join on the same events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1: click at +5 and +40 after a view at 0 — only +5 joins the
    // 30-minute window; user 2: click before the view — never joins;
    // user 3: exact window edge (+30) — inclusive
    val views = Seq((1L, ts(0), "view"), (2L, ts(10), "view"), (3L, ts(0), "view"))
    val clicks = Seq((1L, ts(5), "click"), (1L, ts(40), "click"),
      (2L, ts(5), "click"), (3L, ts(30), "click"))
    val cols = Seq("user_id", "ts", "event_type")
    val batch = Sessions.intervalJoinStream(
        views.toDF(cols: _*), clicks.toDF(cols: _*))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(3))).toSet
    assert(batch == Set((1L, ts(0), ts(5)), (3L, ts(0), ts(30))),
      s"batch interval-join semantics: $batch")
    val lIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val rIn = MemoryStream[(Long, java.sql.Timestamp, String)]
    val q = Sessions.intervalJoinStream(
        lIn.toDF().toDF(cols: _*), rIn.toDF().toDF(cols: _*))
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      lIn.addData(views.toIndexedSeq: _*)
      rIn.addData(clicks.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("ssjoin_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(3))).toSet
      assert(streamed == batch,
        s"stream-stream join must match the batch plan: $streamed vs $batch")
    } finally q.stop()
  }

  test("streaming gate scores with TRAINED weights, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (ws, bias) = graft.text.CorpusFilters.trainQualityWeights(spark, dir)
    assert(ws.exists(_ != 0.0), "fit produced all-zero coefficients")
    // UNROUNDED batch logits: the stream emits round(raw, 6), so parity is
    // |streamed - batch| ≤ half-ulp-of-rounding + fp noise — exact == on
    // two differently-shaped float reductions both rounded to 6 decimals
    // could flake on a logit landing exactly on a rounding boundary
    val batch = graft.text.CorpusFilters.scoreQualityTrained(spark, dir, ws, bias)
      .select(col("doc_id"), col("z"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bloom over a gram absent from the corpus: decon stays inert so the
    // parity under test is purely the trained-weight scorer
    val bytes = graft.ml.Bloom.buildFilter(
      Seq("zqx wvk jjj pqm nnb").toDF("g"), col("g"), 1024L, 0.01)
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = Sessions.curationGateStream(
        input.toDF().toDF("doc_id", "text"), "text", bytes, ws, bias)
      .writeStream.format("memory").queryName("curation_trained")
      .outputMode("append").start()
    try {
      input.addData(corpus.toIndexedSeq: _*)
      q.processAllAvailable()
      val streamed = spark.table("curation_trained").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          r.getAs[Double]("quality_logit")).toMap
      assert(streamed.keySet == batch.keySet)
      batch.foreach { case (id, z) =>
        assert(math.abs(streamed(id) - z) <= 5.01e-7,
          s"doc $id: stream trained logit ${streamed(id)} != batch $z")
      }
    } finally q.stop()
  }

  test("incremental band index: a batch-N doc is a candidate source in batch N+1") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // initial corpus: one doc, tokens disjoint from everything arriving
    val corpus = Seq((1L, "alpha beta gamma")).toDF("doc_id", "text")
    val index = new Sessions.BandIndex(
      Sessions.streamBandRows(corpus, "doc_id", "text"))
    val perBatch = scala.collection.mutable.Map.empty[Long, Set[(Long, Long)]]
    val input = MemoryStream[(Long, String)]
    val q = Sessions.incrementalNearDupGate(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text", index,
        (cands, id) => perBatch.synchronized {
          perBatch(id) = cands.collect()
            .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc")))
            .toSet
        })
      .start()
    try {
      // batch 0: doc 10 shares no tokens with the corpus -> no candidates
      input.addData((10L, "delta epsilon zeta"))
      q.processAllAvailable()
      // batch 1: doc 20 is a near-dup of doc 10 ONLY — it can surface as a
      // candidate only if batch 0's doc was folded into the index
      input.addData((20L, "delta epsilon zeta"))
      q.processAllAvailable()
      val batches = perBatch.toSeq.sortBy(_._1).map(_._2)
      assert(batches.head.isEmpty,
        s"doc 10 must not collide with the disjoint corpus: ${batches.head}")
      assert(batches(1).contains((20L, 10L)),
        s"doc 20 must pair with batch-0's doc 10 via the upserted index: ${batches(1)}")
      assert(!batches(1).exists(_._2 == 1L),
        "doc 20 shares nothing with corpus doc 1")
      // batch parity: the same probe against the post-hoc full static
      // index yields exactly the pairs the incremental run emitted
      val staticIndex = Sessions.streamBandRows(
        corpus.unionByName(Seq((10L, "delta epsilon zeta")).toDF("doc_id", "text")),
        "doc_id", "text")
      val parity = Sessions.nearDupCandidates(
          Seq((20L, "delta epsilon zeta")).toDF("doc_id", "text"),
          "doc_id", "text", staticIndex)
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("corpus_doc")))
        .toSet
      assert(parity == batches(1),
        s"incremental gate must match the static gate over the same index: $parity vs ${batches(1)}")
    } finally { q.stop(); index.close() }
  }

  test("curation DAG stream: keep-list matches the batch rule on a replayed corpus") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val bytes = graft.ml.Bloom.buildFilter(
      Seq("zqx wvk jjj pqm nnb").toDF("g"), col("g"), 1024L, 0.01)
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // batch twin of the streaming first-occurrence rule: dup iff the doc
    // band-collides with ANY smaller-id doc (direct collisions, uncapped)
    val allBands = Sessions.streamBandRows(
      corpus.toSeq.toDF("doc_id", "text", "source"), "doc_id", "text")
    val dupBatch = allBands.as("x").join(allBands.as("y"),
        col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
          col("y.doc_id") < col("x.doc_id"))
      .select(col("x.doc_id")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(dupBatch.nonEmpty, "fixture must contain near-dup docs")

    def replay(nChunks: Int): (Set[Long], Seq[Map[String, (Long, Long, Long)]], Map[Long, (Boolean, Boolean, Boolean)]) = {
      val index = new Sessions.BandIndex(Sessions.streamBandRows(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text"))
      val dupStream = scala.collection.mutable.Set.empty[Long]
      val surv = scala.collection.mutable.ArrayBuffer.empty[Map[String, (Long, Long, Long)]]
      val flags = scala.collection.mutable.Map.empty[Long, (Boolean, Boolean, Boolean)]
      val input = MemoryStream[(Long, String, String)]
      val q = Sessions.curationDagStream(
          input.toDF().toDF("doc_id", "text", "source"), "doc_id", "text",
          "source", bytes, index,
          handler = (perDoc, survivorship, _) => {
            perDoc.collect().foreach { r =>
              val id = r.getAs[Long]("doc_id")
              if (r.getAs[Boolean]("dup")) dupStream += id
              flags(id) = (r.getAs[Boolean]("keep"),
                r.getAs[Boolean]("keep_quality"), r.getAs[Boolean]("dup"))
            }
            surv += survivorship.collect().map { r =>
              // the dedup/quality attribution must partition the batch:
              // every doc is dup-dropped, quality-dropped, or finally kept
              assert(r.getAs[Long]("n_docs") == r.getAs[Long]("n_dropped")
                + r.getAs[Long]("n_quality_dropped")
                + r.getAs[Long]("n_kept_final"),
                s"survivorship attribution must partition n_docs: $r")
              r.getAs[String]("source") -> ((r.getAs[Long]("n_docs"),
                r.getAs[Long]("n_dropped"), r.getAs[Long]("n_kept")))
            }.toMap
          })
        .start()
      try {
        val chunks = corpus.grouped(math.ceil(corpus.length.toDouble / nChunks).toInt).toSeq
        chunks.foreach { c => input.addData(c.toIndexedSeq: _*); q.processAllAvailable() }
      } finally { q.stop(); index.close() }
      (dupStream.toSet, surv.toSeq, flags.toMap)
    }

    // multi-batch replay: earlier-batch collisions via the index, same-
    // batch collisions via the local self-join — both paths exercised
    val (dup3, surv3, flags3) = replay(3)
    assert(flags3.keySet == corpus.map(_._1).toSet, "every doc judged once")
    assert(dup3 == dupBatch,
      s"streaming keep-list diverged from the batch rule: " +
        s"extra=${dup3 -- dupBatch} missing=${dupBatch -- dup3}")
    // batch-boundary independence: one giant batch gives the same answer
    val (dup1, _, _) = replay(1)
    assert(dup1 == dupBatch, "single-batch replay must agree too")
    // keep composes quality and dedup; survivorship rolls up exactly
    flags3.foreach { case (id, (keep, kq, dup)) =>
      assert(keep == (kq && !dup), s"doc $id keep flag inconsistent") }
    assert(surv3.map(_.values.map(_._1).sum).sum == corpus.length,
      "survivorship n_docs must cover the corpus")
    assert(surv3.map(_.values.map(_._2).sum).sum == dupBatch.size.toLong,
      "survivorship n_dropped must sum to the dup count")
    surv3.flatMap(_.values).foreach { case (n, d, k) =>
      assert(k == n - d, "n_kept arithmetic") }
  }

  test("quality drift monitor: windowed stats match batch, late rows drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // seconds-based, minute-aligned event times (the suite's ts() is in
    // minutes); tumbling 1-minute windows start exactly at tss(0), tss(60)...
    def tss(sec: Int) = new Timestamp(1700000040000L + sec * 1000L)
    val bytes = graft.ml.Bloom.buildFilter(
      Seq("alpha beta gamma delta epsilon").toDF("g"), col("g"), 1024L, 0.01)
    // window 1 (tss 0-59): two clean docs + one contaminated; window 2: one
    val onTime = Seq(
      (1L, "join hash row batch scan filter", tss(5)),
      (2L, "alpha beta gamma delta epsilon zeta", tss(20)), // contaminated
      (3L, "small slow column customer", tss(40)),
      (4L, "batch scan filter join", tss(70)),
      (99L, "join hash row", tss(700)),
      (6L, "flush", tss(1400)))
    val input = MemoryStream[(Long, String, Timestamp)]
    val q = Sessions.qualityDriftStream(
        input.toDF().toDF("doc_id", "text", "ts"), "text", "ts", bytes)
      .writeStream.format("memory").queryName("drift").outputMode("append")
      .start()
    try {
      input.addData(onTime(0), onTime(1), onTime(2))
      q.processAllAvailable()
      // advance the watermark far past window 1, then replay a LATE row
      // into it — appended output must never revise window 1
      input.addData(onTime(3), onTime(4))
      q.processAllAvailable()
      input.addData((5L, "late arrival into window one", tss(10)))
      q.processAllAvailable()
      input.addData(onTime(5))
      q.processAllAvailable()
      val got = spark.table("drift").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4))).sortBy(_._1.getTime)
      // batch parity: identical plan over the on-time frame (the late row
      // dropped in the stream, so the batch twin excludes it too)
      val batch = Sessions.qualityDriftStream(
          onTime.toDF("doc_id", "text", "ts"), "text", "ts", bytes)
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))).sortBy(_._1.getTime)
      // append emits only finalized windows: everything emitted matches
      // the batch computation exactly, and window 1 is present + correct
      assert(got.nonEmpty && got.toSet.subsetOf(batch.toSet),
        s"stream windows must match batch:\n${got.toSeq}\nvs\n${batch.toSeq}")
      val w1 = got.filter(_._1 == tss(0))
      assert(w1.length == 1, s"window 1 must be emitted exactly once: ${got.toSeq}")
      // 3 on-time docs, 1 contaminated; keep/mean pinned via the batch row
      // (keep also requires a non-negative quality logit, so it is the
      // model's call, not the test's)
      assert(w1.head._2 == 3 && w1.head._3 == 1,
        s"window 1 stats wrong (late row must not count): ${w1.head}")
      assert(w1.head == batch.find(_._1 == tss(0)).get,
        "window 1 must equal the batch-computed row exactly")
    } finally q.stop()
  }

  test("streaming HLL registers: batch-split-invariant state, register " +
    "parity with batch plan, estimate folds exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tss(sec: Int) = new Timestamp(1700000040000L + sec * 1000L)
    // window 1 (0-59s): user ids 1..40, each seen 1-3 times; window 2:
    // 5 ids; flush row far ahead closes both
    val w1Ids = (1L to 40L).flatMap(i => Seq.fill(1 + (i % 3).toInt)(i))
    val w1 = w1Ids.zipWithIndex.map { case (id, i) =>
      (id, tss(5 + (i % 50))) }
    val w2 = (100L to 104L).map(id => (id, tss(70 + (id % 20).toInt)))
    val flush = Seq((999L, tss(1400)))
    val input = MemoryStream[(Long, Timestamp)]
    val q = Sessions.hllRegisterStream(
        input.toDF().toDF("user_id", "ts"), "user_id", "ts", "1 minute",
        "1 minute")
      .writeStream.format("memory").queryName("hllregs")
      .outputMode("append").start()
    try {
      // split window 1 across THREE micro-batches: register state must
      // merge across them (max semilattice)
      input.addData(w1.take(20))
      q.processAllAvailable()
      input.addData(w1.drop(20))
      q.processAllAvailable()
      input.addData(w2 ++ flush)
      q.processAllAvailable()
      val got = spark.table("hllregs").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      // batch parity: same plan over the on-time frame
      val batch = Sessions.hllRegisterStream(
          (w1 ++ w2 ++ flush).toDF("user_id", "ts"), "user_id", "ts",
          "1 minute", "1 minute")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3)))
      assert(got.nonEmpty && got.toSet.subsetOf(batch.toSet),
        "stream registers must match the batch plan row-for-row")
      val gw1 = got.filter(_._1 == tss(0))
      assert(gw1.nonEmpty, "window 1 must be finalized and emitted")
      // fold window-1 registers to the estimate; with 40 distinct ids
      // and 256 buckets the linear-counting branch is near-exact
      val regs = gw1.map(r => r._2 -> r._3).toMap
      val (vZero, _, est) = graft.ml.Hll.estimate(regs)
      assert(vZero > 0L)
      assert(math.abs(est - 40L) <= 3L,
        s"windowed estimate $est too far from the 40 true distinct")
      // row mass: window-1 register rows account for every event
      assert(gw1.map(_._4).sum == w1.length.toLong)
      // driver reference: identical registers from a plain fold
      def sm64(x: Long): Long = {
        var z = x + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val ref = scala.collection.mutable.Map.empty[Long, Long]
      for ((id, _) <- w1) {
        val h = sm64(id)
        val b = ((h % 256) + 256) % 256
        val w = h >>> 8
        val rho = if (w == 0L) 57L
          else 57L - (64 - java.lang.Long.numberOfLeadingZeros(w))
        ref(b) = math.max(ref.getOrElse(b, 0L), rho)
      }
      assert(regs == ref.toMap, "stream registers must equal the fold")
    } finally q.stop()
  }

  test("streaming p-chart: windowed 3-sigma verdicts match the batch " +
    "plan; a planted spike trips the gate") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tss(sec: Int) = new Timestamp(1700000040000L + sec * 1000L)
    // reference: 10% hit rate over a sealed horizon
    val (refC, refN) = (100L, 1000L)
    // window 1: 50 events, 5 hits (in control); window 2: 40 events,
    // 30 hits (a planted spike, way past 3 sigma)
    val w1 = (0 until 50).map(i => (i % 10 == 0, tss(i)))
    val w2 = (0 until 40).map(i => (i % 4 != 0, tss(60 + i)))
    val flush = Seq((false, tss(1400)))
    val input = MemoryStream[(Boolean, Timestamp)]
    val q = Sessions.controlChartStream(
        input.toDF().toDF("hit", "ts"), "ts", "hit", refC, refN,
        "1 minute", "1 minute")
      .writeStream.format("memory").queryName("pchart")
      .outputMode("append").start()
    try {
      input.addData(w1.take(25))
      q.processAllAvailable()
      input.addData(w1.drop(25) ++ w2 ++ flush)
      q.processAllAvailable()
      val got = spark.table("pchart").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getString(5)))
      val batch = Sessions.controlChartStream(
          (w1 ++ w2 ++ flush).toDF("hit", "ts"), "ts", "hit", refC, refN,
          "1 minute", "1 minute")
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getBoolean(4), r.getString(5)))
      assert(got.nonEmpty && got.toSet.subsetOf(batch.toSet),
        "stream verdicts must match the batch plan")
      val g1 = got.find(_._1 == tss(0)).get
      val g2 = got.find(_._1 == tss(60)).get
      assert(g1._2 == 50 && g1._3 == 5 && !g1._5 && g1._6 == "in",
        s"window 1 should be in control: $g1")
      assert(g2._2 == 40 && g2._3 == 30 && g2._5 && g2._6 == "high",
        s"window 2 spike must trip the gate: $g2")
      // the verdict replays the exact integer arithmetic
      for (g <- Seq(g1, g2)) {
        val dev = g._3 * refN - g._2 * refC
        assert(g._5 == (dev * dev > 9L * refC * (refN - refC) * g._2))
      }
    } finally q.stop()
  }

  test("windowed counts run identically on a batch frame (unified plan)") {
    import spark.implicits._
    val batch = Seq(
      (1L, ts(0), "click"), (2L, ts(30), "click"), (3L, ts(65), "view"))
      .toDF("user_id", "ts", "event_type")
    val rows = Sessions.windowedCounts(batch)
      .orderBy(col("window_start"), col("event_type")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      (ts(0), "click", 2L),
      (Timestamp.valueOf("2024-03-01 11:00:00"), "view", 1L)))
  }

  test("streaming dedup drops replayed keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val q = Sessions.dedupStream(
        input.toDS().toDF("event_id", "ts"), Seq("event_id"))
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (2L, ts(1)), (1L, ts(2)), (2L, ts(0)))
      q.processAllAvailable()
      input.addData((1L, ts(3)), (3L, ts(4))) // 1 replays again, 3 is new
      q.processAllAvailable()
      val ids = spark.table("dedup_out").select(col("event_id"))
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("native session_window sessionize on a stream matches the custom-state one") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Sessions.Ev]
    val q = Sessions.sessionizeNative(
        input.toDS().toDF("user_id", "ts"))
      .writeStream.format("memory").queryName("sessions_native_out")
      .outputMode("append").start()
    try {
      input.addData(
        Sessions.Ev(1, ts(0)), Sessions.Ev(1, ts(10)), Sessions.Ev(1, ts(20)),
        Sessions.Ev(2, ts(5)), Sessions.Ev(1, ts(80)))
      q.processAllAvailable()
      input.addData(Sessions.Ev(99, ts(600))) // watermark past every gap
      q.processAllAvailable()
      val out = spark.table("sessions_native_out")
        .filter(col("user_id") < 90)
        .orderBy(col("user_id"), col("start"))
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2), r.getLong(3)))
      // same sessions the flatMapGroupsWithState test asserts
      assert(out.toSeq == Seq(
        (1L, ts(0), ts(20), 3L),
        (1L, ts(80), ts(80), 1L),
        (2L, ts(5), ts(5), 1L)))
    } finally q.stop()
  }

  test("stream-static enrichment broadcast-joins the dim; batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val input = MemoryStream[(Long, Timestamp)]
    val q = Sessions.enrich(input.toDS().toDF("user_id", "ts"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData((1L, ts(0)), (3L, ts(1))) // 3 has no dim row -> null
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .collect().map(r => (r.getLong(0), Option(r.get(2)))).sortBy(_._1)
      assert(got.toSeq == Seq((1L, Some("gold")), (3L, None)))
    } finally q.stop()
    // unified plan: the same transform on a batch frame
    val batch = Sessions.enrich(
        Seq((2L, ts(5))).toDF("user_id", "ts"), dim, "user_id")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(batch.toSeq == Seq((2L, "basic")))
  }

  test("stream-static as-of enrichment matches the native batch as-of join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // unique (user_id, ts) quotes — the q47 right-side contract
    val dim = Seq((1L, 0L, 10.0), (1L, 20L, 11.0), (2L, 5L, 7.0))
      .toDF("user_id", "qts", "quote")
    val events = Seq(
      (100L, 1L, 25L), // between quotes -> qts=20
      (101L, 1L, 5L),  // -> qts=0
      (102L, 1L, 0L),  // equal ts: inclusive >= -> qts=0
      (103L, 2L, 4L),  // before first quote -> null
      (104L, 3L, 9L))  // key absent from dim -> null
    val input = MemoryStream[(Long, Long, Long)]
    val q = Sessions.asofEnrich(
        input.toDS().toDF("event_id", "user_id", "ets"),
        dim, "user_id", "ets", "qts")
      .writeStream.format("memory").queryName("asof_out")
      .outputMode("append").start()
    val streamed =
      try {
        input.addData(events: _*)
        q.processAllAvailable()
        spark.table("asof_out")
          .select(col("event_id"), col("qts"), col("quote"))
          .collect()
          .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
          .sortBy(_._1).toSeq
      } finally q.stop()
    assert(streamed == Seq(
      (100L, Some(20L), Some(11.0)),
      (101L, Some(0L), Some(10.0)),
      (102L, Some(0L), Some(10.0)),
      (103L, None, None),
      (104L, None, None)))
    // parity with the native batch as-of operator on the same frames
    graft.GraftExtensions.register(spark) // AsofJoin strategy
    val native = graft.plans.Asof.join(
        events.toDF("event_id", "user_id", "ets"),
        dim.toDF("d_user", "qts", "quote"),
        leftBy = Seq("user_id"), rightBy = Seq("d_user"),
        leftOn = "ets", rightOn = "qts")
      .select(col("event_id"), col("qts"), col("quote"))
      .collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq
    assert(native == streamed, "stream-static as-of ≡ native batch as-of")
    // unified plan: the same transform on a batch frame, broadcast-hash
    val batch = Sessions.asofEnrich(
      events.toDF("event_id", "user_id", "ets"), dim, "user_id", "ets", "qts")
    assert(batch.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "equi key should hash-join; range conditions ride as join residual")
    val batchRows = batch.select(col("event_id"), col("qts"), col("quote"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1).toSeq
    assert(batchRows == streamed)
  }

  test("foreachBatch hands each micro-batch to the handler with its id") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val q = Sessions.sinkForeachBatch(
        input.toDS().toDF("event_id", "ts"),
        (batch, id) => seen.synchronized {
          seen += id -> batch.collect().map(_.getLong(0)).toSeq.sorted
        })
      .start()
    try {
      input.addData((1L, ts(0)), (2L, ts(1)))
      q.processAllAvailable()
      input.addData((3L, ts(2)))
      q.processAllAvailable()
      val byId = seen.filter(_._2.nonEmpty).sortBy(_._1)
      assert(byId.map(_._2).toSeq == Seq(Seq(1L, 2L), Seq(3L)))
      assert(byId.map(_._1) == byId.map(_._1).sorted, "batch ids monotonic")
    } finally q.stop()
  }

  test("windowed agg output modes: update emits revisions, append emits once " +
      "finalized, too-late rows drop in both") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the SAME watermarked aggregation under both output modes, fed the
    // same batches — the semantics contrast Structured Streaming's docs
    // promise: update = provisional rows per refinement, append = exactly
    // one immutable row per window once the watermark passes window end,
    // and beyond-watermark rows drop in BOTH (round-8 verdict item 7)
    val inU = MemoryStream[(Timestamp, String)]
    val inA = MemoryStream[(Timestamp, String)]
    val qU = Sessions.windowedCounts(inU.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("wc_update")
      .outputMode("update").start()
    val qA = Sessions.windowedCounts(inA.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("wc_append")
      .outputMode("append").start()
    def both(rows: (Timestamp, String)*): Unit = {
      inU.addData(rows: _*); inA.addData(rows: _*)
      qU.processAllAvailable(); qA.processAllAvailable()
    }
    def w1Counts(table: String): Seq[Long] = spark.table(table)
      .filter(col("window_start") === Timestamp.valueOf("2024-03-01 10:00:00")
        && col("event_type") === "click")
      .collect().map(_.getAs[Long]("n_events")).toSeq.sorted
    try {
      // batch 1: two on-time W1=[10:00,11:00) events
      both((ts(0), "click"), (ts(5), "click"))
      assert(w1Counts("wc_update") == Seq(2L),
        "update emits the provisional row immediately")
      assert(spark.table("wc_append").count() == 0,
        "append withholds until the watermark passes window end")
      // batch 2: a LATE event (10:02) still within the 10-min watermark
      // (wm = 10:05 - 10min = 09:55) — must refine, not drop
      both((ts(2), "click"))
      assert(w1Counts("wc_update") == Seq(2L, 3L),
        "update emits one revision per refinement")
      assert(spark.table("wc_append").count() == 0)
      // batch 3: far-future sentinel pushes the watermark past 11:00 —
      // append finalizes W1 (in the trailing no-data micro-batch)
      both((ts(600), "other"))
      assert(w1Counts("wc_append") == Seq(3L),
        "append emits exactly one FINAL row per window")
      // batch 4: a TOO-LATE W1 event (wm now 19:50) drops in BOTH modes
      both((ts(7), "click"))
      assert(w1Counts("wc_update") == Seq(2L, 3L),
        "beyond-watermark row must not produce another update")
      assert(w1Counts("wc_append") == Seq(3L),
        "append output is immutable once finalized")
    } finally { qU.stop(); qA.stop() }
  }

  test("reconciliation: republished stage equals the cold batch stage, closes the direct-rule gap") {
    import spark.implicits._
    import graft.ml.Similarity
    // A JACCARD-ONLY near-dup pair, constructed so the two docs share a
    // 20-token core (3-gram shingle Jaccard 18/26 ≈ 0.69 ≥ 0.5) but can
    // NEVER minhash-band-collide: doc A's tail holds, per seed, a token
    // hashing BELOW every core hash (so A's band minima live in its
    // tail), while doc B's tail tokens all hash above the core minima
    // (so B's minima are the core's) — all four band keys differ by
    // construction. This is exactly the transitive/multi-signal case the
    // streaming direct-collision rule cannot see and reconciliation
    // exists to close.
    def md5hex(x: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val core = (1 to 20).map(i => f"corew$i%02d")
    val seeds = graft.text.TextOps.MinhashSeeds
    val coreMin = seeds.map(sd => core.map(t => md5hex(sd + t)).min)
    val tailA = seeds.zipWithIndex.map { case (sd, i) =>
      Iterator.from(0).map(n => s"qa$n")
        .find(t => md5hex(sd + t) < coreMin(i)).get
    }.distinct
    val tailB = Iterator.from(0).map(n => s"qb$n")
      .filter(t => seeds.zipWithIndex.forall { case (sd, i) =>
        md5hex(sd + t) > coreMin(i) })
      .take(4).toSeq
    val textA = (core ++ tailA).mkString(" ")
    val textB = (core ++ tailB).mkString(" ")
    // the accumulated corpus: sf0.001 documents + the synthetic pair,
    // "ingested" in 3 chunks, the band index maintained incrementally
    // exactly as the curation DAG maintains it (every batch folds in)
    val corpus = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .unionByName(Seq(
        (1000001L, textA, "en", "synth", textA.length.toLong),
        (1000002L, textB, "en", "synth", textB.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
      .coalesce(1).localCheckpoint()
    def writeCorpus(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft-reconcile").toString
      corpus.write.parquet(s"$root/documents.parquet")
      root
    }
    val root = writeCorpus()
    val docs = graft.Tables.documents(spark, root)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val index = new Sessions.BandIndex(Sessions.streamBandRows(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text"))
    try {
      docs.grouped(math.ceil(docs.length / 3.0).toInt).foreach { chunk =>
        index.append(Sessions.streamBandRows(
          chunk.toSeq.toDF("doc_id", "text"), "doc_id", "text"))
      }
      def stageSet(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getAs[Long]("doc_id"),
          Option(r.getAs[java.lang.Long]("component")).map(_.toLong),
          r.getAs[Long]("grp"), r.getAs[Boolean]("flagged"),
          r.getAs[Boolean]("is_canonical"), r.getAs[String]("split"))).toSet
      val reconciled = stageSet(
        Sessions.reconcileDedupStage(spark, root, index))
      // cold batch truth on a pristine copy of the same corpus
      val root2 = writeCorpus()
      val cold = stageSet(Similarity.dedupStage(spark, root2))
      assert(reconciled == cold,
        s"reconciled stage must equal the cold batch stage: " +
          s"only_reconciled=${(reconciled -- cold).take(5)} " +
          s"only_cold=${(cold -- reconciled).take(5)}")
      // the batch consumers now read the republished stage without any
      // recompute: no file under the stage dir changes
      val stageDir = java.nio.file.Paths.get(
        StageStore.stagePath(spark, Similarity.DedupStage, root, "documents"))
      def state(): Map[String, Long] = {
        val buf = scala.collection.mutable.Map.empty[String, Long]
        java.nio.file.Files.walk(stageDir).forEach { p =>
          if (java.nio.file.Files.isRegularFile(p))
            buf(stageDir.relativize(p).toString) =
              java.nio.file.Files.getLastModifiedTime(p).toMillis
        }
        buf.toMap
      }
      val before = state()
      val audit = Similarity.q73b_dedup_survivorship(spark, root).collect()
      assert(state() == before, "q73b must serve the republished stage")
      assert(audit.map(_.getAs[Long]("n_docs")).sum == docs.length.toLong)
      // the closure carries information the streaming direct-collision
      // rule cannot: some doc the minhash-first-occurrence rule KEEPS is
      // non-canonical in a multi-signal component (a retro-drop the
      // stream could never emit) — the gap reconciliation exists to close
      val bands = index.current
      val directDropped = bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.h") === col("y.h") &&
            col("y.doc_id") < col("x.doc_id"))
        .select(col("x.doc_id")).distinct().collect().map(_.getLong(0)).toSet
      val closureDropped = reconciled.collect {
        case (id, _, _, flagged, canonical, _) if flagged && !canonical => id }
      assert((closureDropped -- directDropped).contains(1000002L),
        "the jaccard-only twin must be dropped by the closure yet " +
          s"invisible to the direct band rule (closure-only drops: " +
          s"${closureDropped -- directDropped})")
      val stageDir2 = // before delete
        StageStore.stagePath(spark, Similarity.DedupStage, root2, "documents")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root2))
      org.apache.commons.io.FileUtils.deleteQuietly(stageDir.toFile)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(stageDir2))
    } finally index.close()
  }

  test("streaming DSIR gate: integer score parity with batch, cutoff doc-for-doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.text.CorpusFilters.dsirScores(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("score_unat"))).toMap
    assert(batch.nonEmpty)
    // batch calibrates the cutoff: the median score (any quantile works —
    // the stream only needs a fixed integer)
    val cutoff = batch.values.map(_._2).toSeq.sorted.apply(batch.size / 2)
    val lambda = graft.text.CorpusFilters.dsirLambda(spark, dir)
    assert(lambda.nonEmpty && lambda.size <= 512)
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = Sessions.dsirGateStream(
      input.toDF().toDF("doc_id", "text"), "text", lambda, cutoff)
      .writeStream.format("memory").queryName("dsir_out")
      .outputMode("append").start()
    try {
      // 3-batch replay: the gate is stateless, so batch boundaries are
      // invisible by construction
      corpus.grouped(math.max(1, corpus.length / 3)).foreach { g =>
        input.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("dsir_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("score_unat"),
            r.getAs[Boolean]("keep"))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (id, (n, s, keep)) =>
        assert((n, s) == batch(id),
          s"doc $id: streamed ($n,$s) != batch ${batch(id)} — the hashed " +
            "bucket derivation must be bit-identical")
        assert(keep == (s >= cutoff))
      }
    } finally q.stop()
  }

  test("streaming entropy gate: integer parity with q139 doc-for-doc") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val batch = graft.text.Entropy.q139_char_entropy(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(batch.nonEmpty)
    // batch calibrates the floor (median — any fixed integer works)
    val floor = batch.values.toSeq.sorted.apply(batch.size / 2)
    val corpus = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val input = MemoryStream[(Long, String)]
    val q = Sessions.entropyGateStream(
      input.toDF().toDF("doc_id", "text"), "text", floor)
      .writeStream.format("memory").queryName("entropy_out")
      .outputMode("append").start()
    try {
      // 3-batch replay: stateless gate, batch boundaries invisible
      corpus.grouped(math.max(1, corpus.length / 3)).foreach { g =>
        input.addData(g.toIndexedSeq: _*)
        q.processAllAvailable()
      }
      val streamed = spark.table("entropy_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("h_unat"), r.getAs[Boolean]("keep"))).toMap
      assert(streamed.keySet == batch.keySet)
      streamed.foreach { case (id, (h, keep)) =>
        assert(h == batch(id),
          s"doc $id: streamed $h != batch ${batch(id)} — the kernel is " +
            "a pure per-row function; any drift is a bug")
        assert(keep == (h >= floor))
      }
    } finally q.stop()
  }

  test("streaming expectations: windowed verdicts equal the batch suite") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // epoch-micros anchor ON a 10-minute boundary (window() aligns to
    // epoch multiples, so an unaligned anchor shifts every window start)
    val t0 = 1700000400000000L
    def ev(minute: Long, typ: String, value: java.lang.Double, k: Int) =
      (new Timestamp((t0 + minute * 60000000L) / 1000), typ, value,
        if (k == Int.MinValue) """{"nope": 1}""" else s"""{"k": $k}""")
    // window 0: clean; window 1: one violation of each class; window 2 clean
    val rows = Seq(
      ev(0, "view", 1.0, 5), ev(1, "click", 2.0, 7),
      ev(10, "view", null, 5), // null_value
      ev(11, "bogus", 1.0, 5), // bad_type
      ev(12, "view", -3.0, 5), // neg_value
      ev(13, "view", 1.0, 200), // bad_props (range)
      ev(14, "view", 1.0, Int.MinValue), // bad_props (missing key)
      ev(20, "purchase", 9.0, 0))
    val input = MemoryStream[(Timestamp, String, java.lang.Double, String)]
    val streamDf = input.toDF().toDF("ts", "event_type", "value", "props")
    val q = Sessions.expectationsStream(streamDf, "ts", "5 minutes",
        "10 minutes")
      .writeStream.format("memory").queryName("exp_out")
      .outputMode("append").start()
    try {
      rows.grouped(3).foreach { g =>
        input.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      // append mode: close every window (watermark passes the last event)
      input.addData(ev(60, "view", 1.0, 1)); q.processAllAvailable()
      val got = spark.table("exp_out").collect()
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
      // batch parity: the SAME aggregate over the same rows
      val batch = Sessions.expectationsStream(
        rows.toDF("ts", "event_type", "value", "props"), "ts",
        "5 minutes", "10 minutes").collect()
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
      // append mode emits only CLOSED windows; the final event's own
      // window stays open, so the stream's key set is the closed subset
      assert(got.keySet == batch.keySet - (t0 / 1000 + 3600000L))
      got.foreach { case (w, v) => assert(v == batch(w), s"window $w") }
      // the dirty window caught one violation per class, clean ones passed
      val dirty = got(t0 / 1000 + 600000L)
      assert(dirty == ((5L, 1L, 1L, 1L, 2L, false)))
      assert(got(t0 / 1000).== ((2L, 0L, 0L, 0L, 0L, true)))
    } finally q.stop()
  }

  test("range-drift monitor: hot-bucket alert fires, batch parity exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000400000000L
    val bnds = Seq(100L, 200L, 300L) // 4 buckets over the value line
    def ev(minute: Long, v: Long) =
      (new Timestamp((t0 + minute * 60000000L) / 1000), v)
    // window 0: spread across all 4 buckets; window 1: all in bucket 3
    val rows = Seq(
      ev(0, 50L), ev(1, 150L), ev(2, 250L), ev(3, 350L),
      ev(10, 400L), ev(11, 500L), ev(12, 600L), ev(13, 999L))
    val input = MemoryStream[(Timestamp, Long)]
    val streamDf = input.toDF().toDF("ts", "v")
    val q = Sessions.rangeDriftStream(streamDf, "ts", "v", bnds,
        "5 minutes", "10 minutes", 800L)
      .writeStream.format("memory").queryName("drift_out")
      .outputMode("append").start()
    try {
      rows.grouped(4).foreach { g =>
        input.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      input.addData(ev(60, 1L)); q.processAllAvailable() // close windows
      def key(r: org.apache.spark.sql.Row) = r.getTimestamp(0).getTime
      def payload(r: org.apache.spark.sql.Row) =
        (r.getLong(1), r.getSeq[Long](2), r.getLong(3), r.getBoolean(4))
      val got = spark.table("drift_out").collect()
        .map(r => key(r) -> payload(r)).toMap
      val batch = Sessions.rangeDriftStream(rows.toDF("ts", "v"), "ts",
          "v", bnds, "5 minutes", "10 minutes", 800L).collect()
        .map(r => key(r) -> payload(r)).toMap
      assert(got.keySet == batch.keySet - (t0 / 1000 + 3600000L))
      got.foreach { case (w, v) => assert(v == batch(w), s"window $w") }
      val spread = got(t0 / 1000)
      assert(spread == ((4L, Seq(1L, 1L, 1L, 1L), 250L, false)))
      val hot = got(t0 / 1000 + 600000L)
      assert(hot == ((4L, Seq(0L, 0L, 0L, 4L), 1000L, true)),
        "all-one-bucket window must alert")
    } finally q.stop()
  }

  test("idempotent foreachBatch: a replayed batch id never re-runs the handler") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val commitDir = s"${System.getProperty("java.io.tmpdir")}/graft_commits_" +
      spark.sparkContext.applicationId
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(commitDir))
    var runs = 0
    // the crash-replay contract, driven directly: same id twice = one run
    assert(Sessions.runBatchOnce(spark, commitDir, 7L) { runs += 1 })
    assert(!Sessions.runBatchOnce(spark, commitDir, 7L) { runs += 1 })
    assert(Sessions.runBatchOnce(spark, commitDir, 8L) { runs += 1 })
    assert(runs == 2)
    // and through a real stream: every batch id lands exactly one marker
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val input = MemoryStream[Long]
    val q = Sessions.idempotentForeachBatch(
      input.toDF().toDF("v"), commitDir,
      (df, id) => seen.synchronized { seen += ((id, df.count())) }: Unit)
      .start()
    try {
      input.addData(1L, 2L, 3L); q.processAllAvailable()
      input.addData(4L); q.processAllAvailable()
      assert(seen.map(_._2).sum == 4)
      val fs = new org.apache.hadoop.fs.Path(commitDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val markers = fs.listStatus(new org.apache.hadoop.fs.Path(commitDir))
        .map(_.getPath.getName).filter(_.startsWith("batch-")).sorted
      assert(markers.length == seen.size + 2) // + the two direct-run ids
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(commitDir))
  }

  test("SpaceSaving heavy hitters: guarantees vs exact counts, bounded state, window eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val m = 10
    val w0 = 600000L // window [600000, 660000)
    def ts(ms: Long) = new Timestamp(ms)
    // skewed window-0 stream: 2 heavies + a 100-term tail, all distinct
    val heavy = Seq.fill(50)("hh_a") ++ Seq.fill(30)("hh_b")
    val tail = (1 to 100).map(i => f"t$i%03d")
    val win0 = (heavy ++ tail).zipWithIndex.map { case (t, i) =>
      (ts(w0 + (i % 50) * 1000L), t)
    }
    val win1 = Seq.fill(5)("hh_c").map(t => (ts(w0 + 70000L), t))
    // sentinel far ahead: advances the watermark past both window ends
    val sentinel = Seq((ts(w0 + 10 * 60000L), "zz_sentinel"))
    val input = MemoryStream[(Timestamp, String)]
    val q = Sessions.heavyHittersStream(
      input.toDF().toDF("ts", "term"), "term", "ts", m)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    try {
      input.addData(win0 ++ win1: _*)
      q.processAllAvailable()
      input.addData(sentinel: _*)
      q.processAllAvailable()
      val out = spark.table("hh_out").collect().map(r =>
        (r.getAs[Timestamp]("window_start").getTime, r.getAs[String]("term"),
          r.getAs[Long]("est_count"), r.getAs[Long]("max_err"),
          r.getAs[Long]("n_total"), r.getAs[Boolean]("guaranteed")))
      val sketch0 = out.filter(_._1 == w0)
      val sketch1 = out.filter(_._1 == w0 + 60000L)
      // bounded state: never more than m counters per window
      assert(sketch0.length == m && sketch0.map(_._2).distinct.length == m)
      assert(sketch0.forall(_._5 == (heavy ++ tail).length.toLong))
      val exact = (heavy ++ tail).groupBy(identity).map { case (t, xs) =>
        t -> xs.length.toLong }
      // SpaceSaving bracket: est - err <= true <= est for every kept term
      sketch0.foreach { case (_, t, est, err, _, _) =>
        val tr = exact.getOrElse(t, 0L)
        assert(est - err <= tr && tr <= est, s"$t: est=$est err=$err true=$tr")
      }
      // any term with true count > n/m must be in the sketch, guaranteed
      val n = (heavy ++ tail).length
      val kept = sketch0.map(_._2).toSet
      exact.filter { case (_, c) => c * m > n }.keys.foreach { t =>
        assert(kept(t), s"true heavy hitter $t missing from the sketch")
        assert(sketch0.find(_._2 == t).get._6, s"$t must be guaranteed")
      }
      // window 1 closed independently with its own tiny sketch
      assert(sketch1.map(_._2).toSeq == Seq("hh_c"))
      assert(sketch1.head._3 == 5L && sketch1.head._4 == 0L)
    } finally q.stop()
  }

  test("streaming transitions equal the batch lag pairs across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def tms(ms: Long) = new Timestamp(ms)
    val base = 1800000L
    // two users, events interleaved and scrambled WITHIN each batch;
    // batch split lands mid-sequence to exercise the carried state
    val evs = Seq(
      (1L, base + 1000L, 1L, "view"), (2L, base + 1500L, 2L, "view"),
      (1L, base + 2000L, 3L, "click"), (1L, base + 3000L, 4L, "view"),
      (2L, base + 2500L, 5L, "click"), (1L, base + 4000L, 6L, "purchase"),
      (2L, base + 5000L, 7L, "purchase"), (2L, base + 6000L, 8L, "view"))
    val (b1, b2) = evs.splitAt(4)
    val scram1 = b1.sortBy(_._3 * 7 % 5)
    val scram2 = b2.sortBy(_._3 * 3 % 4)
    val input = MemoryStream[(Long, Timestamp, Long, String)]
    val q = Sessions.transitionStream(
      input.toDF().toDF("user_id", "ts", "event_id", "event_type"),
      "user_id", "ts", "event_id", "event_type")
      .writeStream.format("memory").queryName("tr_out")
      .outputMode("append").start()
    try {
      input.addData(scram1.map(e => (e._1, tms(e._2), e._3, e._4)): _*)
      q.processAllAvailable()
      input.addData(scram2.map(e => (e._1, tms(e._2), e._3, e._4)): _*)
      q.processAllAvailable()
      val got = spark.table("tr_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3))).toSet
      // batch twin: lag over the full in-order frame
      val expect = evs.groupBy(_._1).flatMap { case (u, g) =>
        val s = g.sortBy(e => (e._2, e._3))
        s.zip(s.tail).map { case (a, b) => (u, a._4, b._4, b._2 * 1000L) }
      }.toSet
      assert(got == expect, s"missing=${expect -- got} extra=${got -- expect}")
    } finally q.stop()
  }

  test("streaming A-ES reservoir: exact top-k per window, bounded state, batch parity") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val k = 5
    val w0 = 1200000L // window [1200000, 1260000)
    def tms(ms: Long) = new Timestamp(ms)
    // window 0: 40 docs with varied weights, shuffled arrival order;
    // window 1: 3 docs (fewer than k — reservoir keeps all)
    val win0 = (1L to 40L).map(d => (tms(w0 + (d % 7) * 1000L), d, d * 37 % 19 + 1))
    val shuffled = win0.sortBy(_._2 * 31 % 13) // deterministic scramble
    val win1 = Seq(101L, 102L, 103L).map(d => (tms(w0 + 61000L), d, 5L))
    val sentinel = Seq((tms(w0 + 10 * 60000L), 999L, 1L))
    val input = MemoryStream[(Timestamp, Long, Long)]
    val q = Sessions.reservoirStream(
      input.toDF().toDF("ts", "doc_id", "weight"),
      "doc_id", "weight", "ts", k)
      .writeStream.format("memory").queryName("res_out")
      .outputMode("append").start()
    try {
      // split across micro-batches to exercise the state merge
      input.addData(shuffled.take(15): _*); q.processAllAvailable()
      input.addData(shuffled.drop(15) ++ win1: _*); q.processAllAvailable()
      input.addData(sentinel: _*); q.processAllAvailable()
      val out = spark.table("res_out").collect().map(r =>
        (r.getAs[Timestamp]("window_start").getTime,
          r.getAs[Long]("doc_id"), r.getAs[Long]("weight"),
          r.getAs[Long]("lnu_unat")))
      val res0 = out.filter(_._1 == w0)
      val res1 = out.filter(_._1 == w0 + 60000L)
      assert(res0.length == k, "exactly k kept in the full window")
      assert(res1.length == 3, "short window keeps everything")
      // brute-force A-ES twin with the same kernel + exact rational order
      def lnu(d: Long): Long = {
        val x = (graft.rel.SplitMix64Kernel.mix(d) >>> 11) + 1
        math.round(1e6 * (graft.functions.SharedLnUtil.ln(x) -
          graft.text.Budget.Ln2Pow53))
      }
      val expect0 = win0.map { case (_, d, w) => (d, w, lnu(d)) }
        .sortWith { (a, b) =>
          val c = a._3 * b._2 - b._3 * a._2
          c > 0 || (c == 0 && a._1 < b._1)
        }.take(k).map(t => (t._1, t._2, t._3)).toSet
      assert(res0.map(t => (t._2, t._3, t._4)).toSet == expect0,
        "stream top-k equals the exact-rational brute-force selection")
      // arrival-order independence: lnu values match the batch kernel
      res0.foreach { case (_, d, _, l) => assert(l == lnu(d)) }
    } finally q.stop()
  }

  test("psi drift gate: reference-mix window scores exactly zero, " +
    "shifted window alerts, batch parity exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000400000000L // on a 10-minute boundary
    def doc(minute: Long, chars: Long) =
      (new Timestamp((t0 + minute * 60000000L) / 1000), chars)
    // reference mix: lengths across 4 distinct bins
    val refRows = Seq(50L, 120L, 120L, 300L, 300L, 300L, 700L, 700L)
    // window 0 replays the reference multiset exactly; window 1 is all
    // bin-15 outliers
    val rows = refRows.zipWithIndex.map { case (c, i) => doc(i % 8, c) } ++
      (0 until 8).map(i => doc(10 + (i % 8), 999L))
    val refCounts = Sessions.psiReference(
      refRows.toDF("n_chars"), "n_chars")
    val input = MemoryStream[(Timestamp, Long)]
    val q = Sessions.psiDriftStream(input.toDF().toDF("ts", "n_chars"),
        "ts", "n_chars", refCounts, "5 minutes", "10 minutes", 1000000L)
      .writeStream.format("memory").queryName("psi_out")
      .outputMode("append").start()
    try {
      rows.grouped(5).foreach { g =>
        input.addData(g.toIndexedSeq: _*); q.processAllAvailable()
      }
      input.addData(doc(60, 1L)); q.processAllAvailable() // close windows
      val got = spark.table("psi_out").collect()
        .map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getBoolean(5))).toMap
      val w0 = got(t0 / 1000)
      assert(w0._1 == 8L)
      assert(w0._2 == 0L, "identical mix must score PSI exactly 0")
      assert(!w0._5)
      val w1 = got(t0 / 1000 + 600000L)
      assert(w1._5, "all-outlier window must alert")
      assert(w1._4 == 15L, "worst bin is the outlier bin")
      // driver replay of the window-1 score (q203 quantization)
      def lnMicro(x: Long): Long = math.round(1e6 * graft.functions.SharedLnUtil.ln(x))
      val nRef = refRows.length.toLong
      val psi1 = (0 until 16).map { b =>
        val c1 = if (b == 15) 8L else 0L
        val cr = refRows.count(c => math.min(15L, c / 64L) == b).toLong
        val p1 = (1000L * (c1 + 1)) / (8L + 16)
        val p2 = (1000L * (cr + 1)) / (nRef + 16)
        val l1 = lnMicro(c1 + 1) - lnMicro(8L + 16)
        val l2 = lnMicro(cr + 1) - lnMicro(nRef + 16)
        (p1 - p2) * (l1 - l2)
      }.sum
      assert(w1._2 == psi1, "exact PSI replay for the shifted window")
      // batch parity: the same plan over the same rows, row-for-row
      val batch = Sessions.psiDriftStream(rows.toDF("ts", "n_chars"),
          "ts", "n_chars", refCounts, "5 minutes", "10 minutes", 1000000L)
        .collect()
        .map(r => r.getTimestamp(0).getTime ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
            r.getBoolean(5))).toMap
      got.foreach { case (w, v) => assert(v == batch(w), s"window $w") }
    } finally q.stop()
  }

  test("m_hll_stream registry replay: deterministic and batch-identical") {
    val sf = "/root/testdata/sf0.001"
    val got = Sessions.m_hll_stream(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.nonEmpty, "replay must emit finalized registers")
    // batch twin: the same plan over the same deterministic slice
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_us"))
      .orderBy(col("ts_us"), col("user_id")).limit(5000)
      .selectExpr("user_id", "timestamp_micros((ts_us div 1000) * 1000) AS ts")
    val batch = Sessions.hllRegisterStream(ev, "user_id", "ts",
        "1 hour", "1 hour").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got.toSet.subsetOf(batch),
      "stream registers must match the batch plan row-for-row")
    // replay is deterministic run-over-run (the digest the driver gates)
    val again = Sessions.m_hll_stream(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.toSeq == again.toSeq, "replay must be bit-deterministic")
  }

  test("m_session_stream registry replay: deterministic, batch-subset") {
    val sf = "/root/testdata/sf0.001"
    val got = Sessions.m_session_stream(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
    assert(got.nonEmpty, "replay must emit finalized sessions")
    assert(got.exists(_._4 > 1L),
      "the slice must contain at least one multi-event session")
    // batch twin: the same session_window plan over the same slice
    // (sessionizeNative runs identically on batch frames); the stream
    // emits the finalized subset
    val ev = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("ts_us"))
      .orderBy(col("ts_us"), col("user_id")).limit(5000)
      .selectExpr("user_id",
        "timestamp_micros((ts_us div 1000) * 1000) AS ts")
    val batch = Sessions.sessionizeNative(ev).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(got.toSet.subsetOf(batch),
      "stream sessions must match the batch plan row-for-row")
    // ≥95% of batch sessions finalize under the double-flush script
    assert(1000L * got.length >= 950L * batch.size,
      s"flush must finalize nearly all sessions: ${got.length}/${batch.size}")
    val again = Sessions.m_session_stream(spark, sf).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3)))
    assert(got.toSeq == again.toSeq, "replay must be bit-deterministic")
  }

  test("m_psi_stream registry replay: 4 windows, batch parity, healthy") {
    val sf = "/root/testdata/sf0.001"
    val got = Sessions.m_psi_stream(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.length == 4, s"all four windows must finalize: ${got.length}")
    assert(got.map(_._2).sum == 500L, "every sliced doc lands in a window")
    assert(got.forall(!_._6),
      "reference-slice windows must read healthy (PSI noise ≪ 3e8 nano)")
    // batch twin: psiDriftStream over the same deterministic rows
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
    val refCounts = Sessions.psiReference(docs, "n_chars")
    val picked = docs.orderBy(col("doc_id")).limit(2000).collect()
      .map(r => r.getLong(1))
    val per = math.max(1, (picked.length + 3) / 4)
    val t0 = 1599999600000L
    import spark.implicits._
    val slice = picked.zipWithIndex.map { case (ch, i) =>
      (new Timestamp(t0 + (i / per) * 600000L), ch)
    }.toSeq
    val batch = Sessions.psiDriftStream(slice.toDF("ts", "n_chars"),
        "ts", "n_chars", refCounts, "5 minutes", "10 minutes", 300000000L)
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
    assert(got.toSet == batch,
      "stream windows must equal the batch plan row-for-row")
    val again = Sessions.m_psi_stream(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getBoolean(5)))
    assert(got.toSeq == again.toSeq, "replay must be bit-deterministic")
  }
}
