package graft.sink

import graft.{StageStore, Tables}
import graft.text.SparkTestSession
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SinkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("partitioned parquet sink: hive layout + partition pruning on read") {
    val out = java.nio.file.Files.createTempDirectory("graft-part").toString
    Parquet.writePartitioned(
      Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("n_chars")),
      out, Seq("lang"))
    val langDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("lang=")).sorted
    assert(langDirs.nonEmpty && langDirs.forall(_.matches("lang=[a-z]+")))
    // a lang predicate must prune partitions at plan time, not post-scan
    val scan = spark.read.parquet(out).filter(col("lang") === "en")
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"expected partition filter in scan:\n$plan")
    assert(scan.count() ==
      Tables.documents(spark, dir).filter(col("lang") === "en").count())
  }

  test("ORC round-trip: lossless, partition-pruned on read") {
    // the pre-checkpoint plan: q88 itself returns a pinned frame (scratch
    // dir deleted), which would hide the scan behind a Scan ExistingRDD
    // own scratch path (like the JSONL test): q88 below overwrites AND
    // deletes the shared scratch dir, so inner's plan must never depend on
    // files q88 already removed (the old ordering worked only because the
    // InMemoryFileIndex listing was cached — fragile)
    val inner = Orc.orcRoundTripAgg(spark, dir, StageStore.scratch(spark, "orc_spec"))
    // pruning: the read inside q88 filters on the partition column — the
    // scan must carry a PartitionFilters entry, not a post-scan filter;
    // assert BEFORE invoking q88 so the two never share filesystem state
    val plan = inner.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [lang") ||
      plan.contains("PartitionFilters: [isnotnull(lang") ||
      plan.contains("lang#") && plan.contains("PartitionFilters"),
      s"expected partition filters on the ORC scan:\n$plan")
    val q88 = Orc.q88_orc_roundtrip(spark, dir)
    // losslessness: aggregate equals the same aggregate off parquet
    val got = q88.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val want = Tables.documents(spark, dir)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).cast("long").as("s"),
        min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .orderBy(col("source"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == want, s"ORC round-trip drifted: $got vs $want")
  }

  test("JSONL round-trip: text content survives escaping, partition-pruned") {
    val specOut = StageStore.scratch(spark, "jsonl_spec")
    val inner = Orc.jsonlRoundTripAgg(spark, dir, specOut)
    val plan = inner.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"expected partition filters on the JSONL scan:\n$plan")
    // the text signature must equal the same md5-prefix sum off parquet —
    // any escape/unescape corruption in the JSON cycle breaks it
    val got = Orc.q91_jsonl_roundtrip(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    val want = Tables.documents(spark, dir)
      .filter(col("lang").isin("en", "de"))
      .groupBy(col("source"))
      .agg(sum(conv(substring(md5(col("text").cast("binary")), 1, 12), 16, 10)
        .cast("long")).cast("long").as("sig"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == want, "JSONL text signature drifted")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(specOut))
  }

  test("SQL registration: native expressions callable from spark.sql") {
    graft.GraftExtensions.register(spark)
    val r = spark.sql(
      "SELECT normalize_nfkc('ﬁle１２３') AS n, html_unescape('&amp;x') AS h, " +
        "dot_product_d(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect()(0)
    assert(r.getString(0) == "file123")
    assert(r.getString(1) == "&x")
    assert(r.getDouble(2) == 11.0)
    // aggregate registrations: one serialized Bloom filter cell whose
    // members then probe true through the Column API. The bare 0.01
    // parses as a DECIMAL literal — the argument decoder must accept it
    // (it used to silently substitute the default fpp)
    val bf = spark.sql(
      "SELECT bloom_build(v, 100, 0.01) AS f FROM VALUES ('a'), ('b') AS t(v)")
      .head().getAs[Array[Byte]](0)
    import spark.implicits._
    val probed = Seq("a", "b", "zzz").toDF("v")
      .select(col("v"), graft.ml.Bloom.bloom_contains(col("v"), bf).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probed("a") && probed("b"))
    // non-foldable sizing args must fail loudly, never default silently
    val err = intercept[Exception] {
      spark.sql("SELECT bloom_build(v, length(v), 0.01) FROM VALUES ('a') AS t(v)")
        .collect()
    }
    assert(err.getMessage.contains("foldable"),
      s"expected a loud bloom_build arg error, got: ${err.getMessage}")
  }

  test("q126 batched fixture build preserves the append-per-bucket layout") {
    // r20: the 16 sequential bucket appends became one staged write +
    // renames; the physical contract is unchanged — one file per
    // (lang, bucket-of-that-lang), so files_before(lang) must still be
    // COUNT(DISTINCT doc_id % 16) and the rewrite must stay lossless
    val got = Lake.q126_compact_small_files(spark, dir)
      .collect().map(_.toString).toSeq
    Tables.documents(spark, dir).createOrReplaceTempView("docs_q126_spec")
    val want = spark.sql(
      """SELECT lang, COUNT(1) AS n_docs,
        |  CAST(COUNT(DISTINCT doc_id % 16) AS LONG) AS files_before,
        |  (COUNT(1) + 99) DIV 100 AS files_after,
        |  CAST(SUM(CAST(CONV(SUBSTRING(MD5(CAST(text AS BINARY)), 1, 12),
        |    16, 10) AS LONG)) AS LONG) AS text_sig
        |FROM docs_q126_spec GROUP BY lang ORDER BY lang""".stripMargin)
      .collect().map(_.toString).toSeq
    assert(got == want, s"\ngot:  $got\nwant: $want")
  }

  test("q98 merge: untouched partitions byte-identical, emptied partition dropped") {
    import spark.implicits._
    def fileState(root: String): Map[String, String] = {
      // every data file under the lake keyed by relative path → md5 bytes
      val base = java.nio.file.Paths.get(root)
      val buf = scala.collection.mutable.Map.empty[String, String]
      java.nio.file.Files.walk(base).forEach { p =>
        val rel = base.relativize(p).toString
        if (rel.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)) {
          val bytes = java.nio.file.Files.readAllBytes(p)
          buf(rel) = java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
        }
      }
      buf.toMap
    }
    val lake = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val cols = Seq("doc_id", "text", "lang", "source")
    val base = Seq(
      (1L, "alpha one", "p", "s1"), (2L, "beta two", "p", "s1"),
      (3L, "gamma three", "q", "s1"), (4L, "delta four", "r", "s2"))
      .toDF(cols: _*)
    Parquet.writePartitioned(base, lake, Seq("lang"))
    val before = fileState(lake)
    assert(before.keys.exists(_.startsWith("lang=q/")) &&
      before.keys.exists(_.startsWith("lang=r/")))
    // incoming: update doc 1 (lang p), leave q and r untouched
    val incoming = Seq(
      (1L, "alpha one v2", "p", "s1"), (2L, "beta two", "p", "s1"),
      (3L, "gamma three", "q", "s1"), (4L, "delta four", "r", "s2"))
      .toDF(cols: _*)
    val changed = Lake.mergeInto(spark, lake, incoming)
    assert(changed == Seq("p"), s"only partition p changed: $changed")
    val after = fileState(lake)
    // no rewrite amplification: q and r files byte-identical, same paths
    def part(m: Map[String, String], l: String) =
      m.view.filterKeys(_.startsWith(s"lang=$l/")).toMap
    assert(part(after, "q") == part(before, "q"), "lang=q rewritten")
    assert(part(after, "r") == part(before, "r"), "lang=r rewritten")
    assert(part(after, "p") != part(before, "p"), "lang=p must be rewritten")
    // merged content == incoming
    val got = spark.read.parquet(lake).select(cols.map(col): _*)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toSet
    assert(got == Set((1L, "alpha one v2", "p", "s1"), (2L, "beta two", "p", "s1"),
      (3L, "gamma three", "q", "s1"), (4L, "delta four", "r", "s2")))
    // second merge: every q doc deleted → its changed partition has no
    // incoming rows and the directory drops (the metadata delete)
    val incoming2 = incoming.filter(col("lang") =!= "q")
    val changed2 = Lake.mergeInto(spark, lake, incoming2)
    assert(changed2 == Seq("q"))
    assert(!new java.io.File(s"$lake/lang=q").exists, "emptied partition must drop")
    assert(part(fileState(lake), "r") == part(before, "r"),
      "r survives both merges byte-identical")
    // pruned read-back: a lang predicate on the merged lake prunes at
    // plan time (the layout stays a partition-pruning lake after merges)
    val scanPlan = Lake.mergedLakeAgg(spark, lake).queryExecution.executedPlan.toString
    val pruned = spark.read.parquet(lake).filter(col("lang") === "p")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters") && prunedPlan.contains("lang"),
      s"expected partition filters on the merged-lake scan:\n$prunedPlan")
    assert(pruned.count() == 2)
    assert(scanPlan.nonEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
  }

  test("merge digest distinguishes NULL from empty payload (NULL->'' is an update)") {
    import spark.implicits._
    val lake = java.nio.file.Files.createTempDirectory("graft-lake-null").toString
    val cols = Seq("doc_id", "text", "lang", "source")
    // doc 1 stored with a NULL source, doc 2 with an empty-string source
    val base = Seq((1L, "alpha", "p", null: String), (2L, "beta", "p", ""))
      .toDF(cols: _*)
    Parquet.writePartitioned(base, lake, Seq("lang"))
    // incoming flips doc 1's source NULL->'' and nothing else; the old
    // concat_ws digest collapsed both to the same bytes, classifying this
    // as unchanged (round-11 verdict nit)
    val incoming = Seq((1L, "alpha", "p", ""), (2L, "beta", "p", ""))
      .toDF(cols: _*)
    val changed = Lake.mergeInto(spark, lake, incoming)
    assert(changed == Seq("p"), s"NULL->'' must be detected as U: $changed")
    val got = spark.read.parquet(lake).select(col("doc_id"), col("source"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, ""), (2L, "")), s"merged payload wrong: $got")
    // and a no-op merge of the now-identical snapshot touches nothing
    assert(Lake.mergeInto(spark, lake, incoming).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
  }

  test("streaming CDC merge: per-batch changelog applies in order, minimal rewrites") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def fileState(root: String): Map[String, String] = {
      val base = java.nio.file.Paths.get(root)
      val buf = scala.collection.mutable.Map.empty[String, String]
      java.nio.file.Files.walk(base).forEach { p =>
        val rel = base.relativize(p).toString
        if (rel.endsWith(".parquet") && java.nio.file.Files.isRegularFile(p)) {
          buf(rel) = java.security.MessageDigest.getInstance("MD5")
            .digest(java.nio.file.Files.readAllBytes(p)).map("%02x".format(_)).mkString
        }
      }
      buf.toMap
    }
    def part(m: Map[String, String], l: String) =
      m.view.filterKeys(_.startsWith(s"lang=$l/")).toMap
    def content(lake: String): Set[(Long, String, String, String)] =
      spark.read.parquet(lake)
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3))).toSet
    val lake = java.nio.file.Files.createTempDirectory("graft-cdc-lake").toString
    val base = Seq(
      (1L, "alpha", "p", "s1"), (2L, "beta", "p", "s1"),
      (3L, "gamma", "q", "s1"), (4L, "delta", "r", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    Parquet.writePartitioned(base, lake, Seq("lang"))
    val state0 = fileState(lake)
    val perBatch = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val input =
      org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String, String, String)]
    val q = graft.streaming.Sessions.cdcMergeStream(
        input.toDF().toDF("doc_id", "text", "lang", "source", "op"), lake,
        (changed, _) => perBatch.synchronized { perBatch += changed })
      .start()
    try {
      // batch 0: update doc 1 in place, insert doc 5 into NEW lang s
      input.addData((1L, "alpha v2", "p", "s1", "U"), (5L, "eps", "s", "s3", "U"))
      q.processAllAvailable()
      val state1 = fileState(lake)
      assert(perBatch.head.sorted == Seq("p", "s"), s"batch0: ${perBatch.head}")
      assert(content(lake) == Set(
        (1L, "alpha v2", "p", "s1"), (2L, "beta", "p", "s1"),
        (3L, "gamma", "q", "s1"), (4L, "delta", "r", "s2"),
        (5L, "eps", "s", "s3")))
      assert(part(state1, "q") == part(state0, "q") &&
        part(state1, "r") == part(state0, "r"),
        "untouched partitions must stay byte-identical")
      // batch 1: delete the only q doc (partition drops) and MOVE doc 4
      // from r to p (both partitions rewrite; r empties and drops)
      input.addData((3L, "", "", "", "D"), (4L, "delta", "p", "s2", "U"))
      q.processAllAvailable()
      assert(perBatch(1).sorted == Seq("p", "q", "r"), s"batch1: ${perBatch(1)}")
      assert(!new java.io.File(s"$lake/lang=q").exists, "emptied q must drop")
      assert(!new java.io.File(s"$lake/lang=r").exists, "emptied r must drop")
      assert(content(lake) == Set(
        (1L, "alpha v2", "p", "s1"), (2L, "beta", "p", "s1"),
        (4L, "delta", "p", "s2"), (5L, "eps", "s", "s3")))
      val state2 = fileState(lake)
      assert(part(state2, "s") == part(fileState(lake), "s"))
      // batch 2: re-insert a doc under a previously-dropped partition
      input.addData((6L, "zeta", "q", "s1", "U"))
      q.processAllAvailable()
      assert(perBatch(2) == Seq("q"))
      assert(content(lake).contains((6L, "zeta", "q", "s1")))
      // the final lake equals the changelog prefix applied in order
      assert(content(lake) == Set(
        (1L, "alpha v2", "p", "s1"), (2L, "beta", "p", "s1"),
        (4L, "delta", "p", "s2"), (5L, "eps", "s", "s3"),
        (6L, "zeta", "q", "s1")))
    } finally q.stop()
    // an uncompacted batch (two rows for one key) must fail loudly, not
    // silently write both rows — compaction is q86's job upstream
    val bad = Seq((7L, "x", "p", "s1", "U"), (7L, "y", "p", "s1", "U"))
      .toDF("doc_id", "text", "lang", "source", "op")
    val e = intercept[IllegalArgumentException](
      Lake.applyChangesInto(spark, lake, bad))
    assert(e.getMessage.contains("compact"))
    assert(!content(lake).exists(_._1 == 7L), "failed batch must write nothing")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
  }

  test("media resize: images re-encoded at target dims, other kinds untouched") {
    val media = graft.multimodal.Media.mediaTable(spark, dir).limit(60)
    val resized = graft.multimodal.Media.resizeImages(media, 128, 128)
    assert(resized.count() == media.count())
    val img = resized.filter(col("kind") === "image")
      .select(col("meta.width"), col("meta.height")).distinct().collect()
    assert(img.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((128, 128)))
    val audioUnchanged = resized.filter(col("kind") === "audio")
      .join(media.filter(col("kind") === "audio")
        .select(col("media_id"), col("content").as("orig")), "media_id")
      .filter(col("content") =!= col("orig")).count()
    assert(audioUnchanged == 0)
  }

  test("CDC merge into the corpus lake refreshes the dedup stage downstream") {
    import spark.implicits._
    import graft.ml.Similarity
    // the corpus IS a lake: documents.parquet is a lang-partitioned table
    // that applyChangesInto mutates in place — exactly the scenario the
    // round-12 path-md5 stage key served stale labels for
    val root = java.nio.file.Files.createTempDirectory("graft-cdc-stage").toString
    val lake = s"$root/documents.parquet"
    val dupText = "the quick brown fox jumps over the lazy dog tonight"
    Parquet.writePartitioned(Seq(
        (1L, dupText, "en", "web"), (2L, dupText, "en", "web"),
        (3L, "completely different words about spark query planning", "en", "web"),
        (4L, "yet another unrelated document mentioning parquet files", "fr", "wiki"))
      .toDF("doc_id", "text", "lang", "source"), lake, Seq("lang"))
    val key1 = StageStore.stagePath(spark, Similarity.DedupStage, root, "documents")
    val audit1 = Similarity.q73b_dedup_survivorship(spark, root).collect()
    assert(audit1.map(_.getAs[Long]("n_docs")).sum == 4)
    assert(audit1.map(_.getAs[Long]("n_dropped")).sum == 1, "one of two twins drops")
    // CDC batch lands: a third twin arrives, the wiki doc is deleted
    Lake.applyChangesInto(spark, lake, Seq(
        (5L, dupText, "en", "web", "U"), (4L, "", "", "", "D"))
      .toDF("doc_id", "text", "lang", "source", "op"))
    val key2 = StageStore.stagePath(spark, Similarity.DedupStage, root, "documents")
    assert(key2 != key1, "CDC merge must change the stage fingerprint")
    // all three stage consumers recompute over the merged corpus and
    // their internal gates (leak_free, kept arithmetic) still hold
    val audit2 = Similarity.q73b_dedup_survivorship(spark, root).collect()
    assert(audit2.map(_.getAs[Long]("n_docs")).sum == 4, "5 docs - 1 delete")
    assert(audit2.map(_.getAs[Long]("n_dropped")).sum == 2, "three twins -> two drop")
    val split = Similarity.q100_component_split(spark, root).collect()
    assert(split.map(_.getAs[Long]("n_docs")).sum == 4)
    assert(split.forall(_.getAs[Boolean]("leak_free")))
    val report = Similarity.q101_curation_report(spark, root).collect()
    assert(report.map(_.getAs[Long]("n_docs")).sum == 4)
    assert(report.map(_.getAs[Long]("n_kept")).sum ==
      audit2.map(r => r.getAs[Long]("n_docs") - r.getAs[Long]("n_dropped")).sum)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(key1))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(key2))
  }

  test("versioned lake: carry-by-reference, time travel, rollback, partial commit invisible") {
    val dir = "/root/testdata/sf0.001"
    val lake = s"${System.getProperty("java.io.tmpdir")}/graft_tt_spec_" +
      spark.sparkContext.applicationId
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    def snap(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val base = snap(docs)

    assert(Lake.writeVersion(spark, lake, docs, Seq.empty) == 1)
    val enV2 = docs.filter(col("lang") === "en" && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"), col("lang"), col("source"))
    assert(Lake.writeVersion(spark, lake, enV2, Seq("en")) == 2)

    // carry-by-reference: every non-en v1 file appears VERBATIM in v2's
    // manifest and its bytes were never touched (mtime unchanged)
    val m1 = Lake.manifest(spark, lake, 1)
    val m2 = Lake.manifest(spark, lake, 2).toSet
    val carried = m1.filterNot(_.startsWith("lang=en/"))
    assert(carried.nonEmpty && carried.forall(m2))
    assert(m1.filter(_.startsWith("lang=en/")).forall(f => !m2(f)),
      "replaced partition's old files must leave the new snapshot")

    // time travel: v1 still serves the exact historical content
    assert(snap(Lake.readVersion(spark, lake, 1)) == base)
    // v2 applied the delta
    val langOf: Map[Long, String] = docs.select(col("doc_id"), col("lang"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val v2 = snap(Lake.readVersion(spark, lake, 2))
    val expected = base.collect {
      case (id, t) if !(langOf(id) == "en" && id % 11 == 0) =>
        id -> (if (langOf(id) == "en" && id % 7 == 0) t + " v2" else t)
    }
    assert(v2 == expected)

    // rollback = a commit whose manifest equals v1's
    assert(Lake.commitVersion(spark, lake, m1) == 3)
    assert(snap(Lake.readVersion(spark, lake, 3)) == base)

    // a crashed commit (tmp manifest never renamed) is invisible
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$lake/_versions/.tmp-v00004")
    val out = fs.create(tmp, true)
    out.write("lang=zz/ghost.parquet".getBytes("UTF-8")); out.close()
    assert(Lake.versions(spark, lake) == Seq(1, 2, 3))

    // GDPR erasure: v4 = current minus one subject's rows, then vacuum
    // keeping only v4 — no snapshot can serve the erased doc afterwards
    val subject = Lake.readVersion(spark, lake, 3)
      .filter(col("lang") === "en").select(col("doc_id"))
      .orderBy(col("doc_id")).limit(1).collect().head.getLong(0)
    val current = Lake.readVersion(spark, lake, 3)
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    assert(Lake.writeVersion(spark, lake,
      current.filter(col("lang") === "en" && col("doc_id") =!= subject),
      Seq("en")) == 4)
    val m4 = Lake.manifest(spark, lake, 4)
    val erased = Lake.vacuum(spark, lake, Seq(4))
    assert(erased > 0, "old en files must be physically deleted")
    assert(Lake.versions(spark, lake) == Seq(4))
    val v4 = snap(Lake.readVersion(spark, lake, 4))
    assert(!v4.contains(subject) && v4.keySet == base.keySet - subject)
    // every file v4 references survived the vacuum; the erased-version
    // manifests are gone (time travel across the erasure boundary ends)
    m4.foreach { p =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$lake/data/$p")))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$lake/_versions/v00001.list")))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(lake))
  }
}
