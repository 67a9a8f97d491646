package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.ingest.Tickets
import graft.ml.{Lda, Vocab}
import graft.text.{Cleanse, CorpusFilters}

/** One booked op: its wall time and whether it (and its checks) passed. */
final class Op(val name: String) {
  var ms = 0.0
  var ok = true
}

/** State one run shares between the benchmark and its workload: the
  * session, the tracer, and the op and check ledger behind `attempted`,
  * `failed` and the op-latency percentiles. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File,
    val corrupt: Boolean) {
  val ops: mutable.ArrayBuffer[Op] = mutable.ArrayBuffer.empty
  private var corrupted = false

  /** Runs one op: `build` returns the program's DataFrame(s) (jobs started
    * there count as build jobs), `act` runs the action. The op's wall time
    * covers both. An exception marks the op failed and propagates. */
  def op[B, T](name: String)(build: => B)(act: B => T): T = tracer.span(name) {
    val t0 = System.nanoTime()
    val o = new Op(name)
    ops += o // booked first, so checks made inside `act` find it
    try {
      val b = tracer.building(build)
      tracer.note("build.ms", (System.nanoTime() - t0) / 1e6)
      act(b)
    } catch {
      case t: Throwable => o.ok = false; throw t
    } finally {
      o.ms = (System.nanoTime() - t0) / 1e6
    }
  }

  /** An output check on the most recent op named `name`. A failed check
    * marks that op failed. With `--corrupt`, the first check of the run is
    * fed a deliberately wrong value, to show failures are caught. */
  def check(name: String, ok: Boolean, what: => String): Unit = {
    val forced = corrupt && !corrupted
    if (forced) corrupted = true
    if (!ok || forced) {
      System.err.println(s"[perfbench] check failed${if (forced) " (forced by --corrupt)" else ""}: $name: $what")
      ops.reverseIterator.find(_.name == name).foreach(_.ok = false)
    }
  }
}

trait Workload {
  def name: String
  /** Iterations every run makes, whatever `--seconds` says. */
  def minIterations: Int
  /** Generates or loads this seed's inputs (timed apart from set-up). */
  def prepare(data: File, seed: Long): String
  /** One timed iteration, with its output checks. */
  def iteration(ctx: Ctx): Unit
  /** Output checks that run after an iteration, outside its wall time. */
  def verify(ctx: Ctx): Unit = ()
  /** Extra per-layer work after a traced iteration, outside its wall time. */
  def afterTraced(ctx: Ctx): Unit = ()
  /** Per-layer span names this workload reports, besides the common ones. */
  def spanMetrics: Seq[String]
  /** Per-layer values derived from one traced iteration's summary. */
  def derive(layer: Map[String, Double]): Map[String, Double] = Map.empty
}

object Workloads {
  def all(benchDir: File): Seq[Workload] =
    Seq(new LdaChain, new CurationFunnel, new OperatorSweep(benchDir))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Releases the blocks behind a localCheckpoint'd frame. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed.foreach {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }
}

/** The paper's pipeline on seeded Zendesk-shaped tickets: ingest and bind
  * comments, cleanse, write the corpus (JSON and the parquet the ml layer
  * reads), dictionary, bag-of-words, LDA sweep. */
final class LdaChain extends Workload {
  val name = "lda_chain"
  val minIterations = 3
  val NTickets = 400
  private var in: Gen.TicketsInput = _

  def prepare(data: File, seed: Long): String = {
    in = Gen.tickets(data, seed, NTickets)
    s"${in.tickets} tickets, ${in.commentFiles} comment files, ${in.comments} comments, " +
      s"${in.tokens} tokens, ${in.piiTokens.size} planted PII tokens"
  }

  val spanMetrics: Seq[String] = Seq("ingest.scan_ms", "text.cleanse_ms",
    "sink.json_write_ms", "sink.parquet_write_ms", "ml.vocab.dictionary_ms",
    "ml.vocab.doc2bow_ms", "ml.lda.sweep_ms")

  def iteration(ctx: Ctx): Unit = {
    val s = ctx.spark
    val out = new File(ctx.work, "lda_chain")
    val docsDir = new File(out, "ml").getAbsolutePath
    val (subjects, comments) = ctx.op("ingest.scan") {
      val t = Tickets.reshapeTickets(Tickets.scanTickets(s, in.ticketsPath))
      (t.select(col("ticket_id"), col("subject")), Tickets.allComments(s, t, in.commentsDir))
    } { case (t, c) =>
      val nt = t.persist().count()
      val nc = c.persist().count()
      ctx.check("ingest.scan", nt == in.tickets && nc == in.tickets + in.comments,
        s"$nt tickets and $nc comments, expected ${in.tickets} and ${in.tickets + in.comments}")
      (t, c)
    }
    val corpus = ctx.op("text.cleanse") {
      val bodies = comments
        .select(col("ticket_id"), struct(col("created_at"), col("comment_id"),
          Cleanse.cleanse(col("body")).as("body")).as("c"))
        .groupBy(col("ticket_id"))
        .agg(array_join(transform(sort_array(collect_list(col("c"))),
          x => x.getField("body")), " ").as("bodies"))
      subjects.join(bodies, Seq("ticket_id"), "left_outer")
        .select(col("ticket_id"),
          concat_ws(" ", Cleanse.cleanse(col("subject")), col("bodies")).as("doc"))
    } { c =>
      val n = c.persist().count()
      ctx.check("text.cleanse", n == in.tickets, s"$n corpus rows, expected ${in.tickets}")
      c
    }
    ctx.op("sink.json_write")(corpus) { c =>
      graft.sink.Json.writeCorpus(c, new File(out, "json").getAbsolutePath, "bench")
    }
    ctx.op("sink.parquet_write") {
      corpus.select(col("ticket_id").as("doc_id"), col("doc").as("text"),
        lit("en").as("lang"), lit("tickets").as("source"),
        length(col("doc")).cast("long").as("n_chars"))
    }(_.write.mode("overwrite").parquet(s"$docsDir/documents.parquet"))
    Seq(subjects, comments, corpus).foreach(_.unpersist(blocking = false))
    ctx.op("ml.vocab.dictionary")(Vocab.q24_dictionary(s, docsDir)) { d =>
      val rows = d.collect()
      ctx.check("ml.vocab.dictionary", rows.nonEmpty && rows.length <= Vocab.VocabSize,
        s"${rows.length} dictionary terms")
    }
    ctx.op("ml.vocab.doc2bow")(Vocab.q25_doc2bow(s, docsDir))(Workloads.noop)
    ctx.op("ml.lda.sweep")(Lda.m_lda_sweep(s, docsDir)) { df =>
      val rows = df.collect()
      val ks = rows.map(_.getAs[Int]("k")).toSeq
      val finite = rows.forall(r => Seq("log_likelihood", "log_perplexity", "coherence_cv")
        .forall(c => !r.isNullAt(r.fieldIndex(c)) && java.lang.Double.isFinite(r.getAs[Double](c))))
      ctx.check("ml.lda.sweep", ks == (2 to 6) && finite, s"k=${ks.mkString(",")} finite=$finite")
    }
  }

  /** No planted PII token survives into the corpus the ml layer read. */
  override def verify(ctx: Ctx): Unit = {
    val s = ctx.spark
    val docsDir = new File(new File(ctx.work, "lda_chain"), "ml").getAbsolutePath
    import s.implicits._
    val pii = in.piiTokens.toDF("tok")
    val leaked = s.read.parquet(s"$docsDir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("tok"))
      .join(broadcast(pii), "tok").count()
    ctx.check("text.cleanse", leaked == 0, s"$leaked planted PII tokens left in the corpus")
  }
}

/** `CorpusFilters.q70_curation_funnel` over a seeded corpus with planted
  * duplicates, near duplicates and shared spans. */
final class CurationFunnel extends Workload {
  val name = "curation_funnel"
  val minIterations = 4
  val Docs = 8000
  private var in: Gen.CorpusInput = _

  def prepare(data: File, seed: Long): String = {
    in = Gen.corpus(data, seed, Docs)
    s"${in.docs} docs, ${in.tokens} tokens, planted ${in.exactDupsPlanted} exact, " +
      s"${in.nearDupsPlanted} near, ${in.spanDocsPlanted} span duplicates; " +
      s"q70 must drop ${in.exactDupRemovals} exact duplicates of ${in.nonBenchDocs} corpus docs"
  }

  val spanMetrics: Seq[String] = Seq("text.q70.funnel_ms", "text.q70.token_frame_ms",
    "text.q70.tagged_counts_ms", "text.q70.freqs_ms", "text.q70.total_ms",
    "text.q70.bench_ms", "ml.similarity.near_labels_ms", "text.q70.span_kept_ms")

  def iteration(ctx: Ctx): Unit =
    ctx.op("text.q70.funnel")(CorpusFilters.q70_curation_funnel(ctx.spark, in.path)) { df =>
      val rows = df.collect().map(r => r.getAs[String]("rule") -> r).toMap
      def n(rule: String, c: String): Long = rows.get(rule).map(_.getAs[Long](c)).getOrElse(-1L)
      val corpus = n("corpus", "n_kept")
      val dropped = corpus - n("exact_dedup", "n_pass_alone")
      ctx.check("text.q70.funnel", rows.size == 9 && corpus == in.nonBenchDocs &&
        dropped == in.exactDupRemovals,
        s"corpus=$corpus exact-dup drops=$dropped, expected ${in.nonBenchDocs} and ${in.exactDupRemovals}")
    }

  /** Each of the funnel's passes over the same pinned token frame. */
  override def afterTraced(ctx: Ctx): Unit = {
    val toks = ctx.op("text.q70.token_frame")(CorpusFilters.q70TokenFrame(ctx.spark, in.path))(
      _.localCheckpoint())
    Seq[(String, DataFrame => DataFrame)](
      "text.q70.tagged_counts" -> CorpusFilters.q70TaggedCounts,
      "text.q70.freqs" -> CorpusFilters.q70Freqs,
      "text.q70.total" -> CorpusFilters.q70Total,
      "text.q70.bench" -> CorpusFilters.q70Bench,
      "ml.similarity.near_labels" -> CorpusFilters.q70NearLabels,
      "text.q70.span_kept" -> CorpusFilters.q70SpanKept)
      .foreach { case (n, f) => ctx.op(n)(f(toks))(Workloads.noop) }
    Workloads.release(toks)
  }
}

/** A committed list of registry queries over the sf0.001 tables, each run
  * once per pass in an order permuted by the seed, each result checked
  * against a committed digest. */
final class OperatorSweep(benchDir: File) extends Workload {
  val name = "operator_sweep"
  val minIterations = 3
  private var order: Seq[Sweep.Entry] = Nil
  private lazy val list = Sweep.readList(benchDir)
  private lazy val expected = Sweep.readExpected(benchDir)
  def dataDir: String = new File(benchDir, "data/sf0.001").getAbsolutePath

  def prepare(data: File, seed: Long): String = {
    order = Sweep.permute(list, seed)
    s"${order.size} queries (${list.count(_.pinned)} pinned) over $dataDir, " +
      s"order ${order.take(3).map(_.name).mkString(", ")}, ..."
  }

  def iteration(ctx: Ctx): Unit = {
    val registry = graft.SparkEntry.queries
    order.foreach { e =>
      val op = s"query.${e.name}"
      try {
        val (schema, rows) = ctx.op(op)(registry(e.name)(ctx.spark, dataDir))(df => (df.schema, df.collect()))
        val got = Digest.of(schema, rows.toSeq)
        expected.get(e.name) match {
          case Some(x) =>
            ctx.check(op, rows.length == x.rows && (x.digest == "*" || got == x.digest),
              s"rows=${rows.length} digest=$got, expected rows=${x.rows} digest=${x.digest}")
          case None => ctx.check(op, ok = false, s"no committed digest (rows=${rows.length} digest=$got)")
        }
      } catch {
        case t: Throwable if !t.isInstanceOf[VirtualMachineError] =>
          System.err.println(s"[perfbench] $op failed: $t")
      }
    }
  }

  /** `<module>_ms`: the query time of each registering module, per pass. */
  override def derive(layer: Map[String, Double]): Map[String, Double] =
    list.groupBy(_.module).map { case (m, es) =>
      s"${m}_ms" -> es.map(e => layer.getOrElse(s"query.${e.name}_ms", 0.0)).sum
    }

  def spanMetrics: Seq[String] =
    list.map(_.module).distinct.sorted.map(m => s"${m}_ms") ++
      list.filter(_.pinned).map(e => s"query.${e.name}_ms")
}

/** The operator sweep's committed query list and expected digests. */
object Sweep {
  final case class Entry(name: String, module: String, pinned: Boolean)
  final case class Expected(rows: Long, digest: String)

  /** Queries the ROADMAP directions name, one or more of each kind. The
    * run-time budget (a full round of runs of every workload must fit a
    * fixed total) left out q73, q138, q148, q166, q246 (fixpoints), q101 (memo
    * consumers), q150, q181, q225 (similarity), q183, q235, q274
    * (codegen-heavy) and q98, q126, q131 (writes); each kind keeps members
    * that exercise the same machinery. */
  val Pinned: Seq[String] = Seq(
    // fixpoints
    "q55_dedup_components", "q201_distance_histogram", "q239_distance_approx",
    // memo consumers
    "q73b_dedup_survivorship", "q100_component_split",
    // similarity
    "q31_minhash_buckets", "q79_jaccard_prefix",
    // codegen-heavy
    "q169_hashing_fidelity",
    // plan breakdown
    "q162_phrase_merge",
    // writes
    "q88_orc_roundtrip")

  /** Registering modules, in `SparkEntry.queries` order. */
  def modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = {
    import graft._
    Seq(
      "rel.Relational" -> rel.Relational.queries, "rel.Behavior" -> rel.Behavior.queries,
      "rel.Linkage" -> rel.Linkage.queries, "rel.Graph" -> rel.Graph.queries,
      "rel.Triangles" -> rel.Triangles.queries, "rel.Expectations" -> rel.Expectations.queries,
      "rel.Coreness" -> rel.Coreness.queries, "rel.SkewAdvisor" -> rel.SkewAdvisor.queries,
      "rel.JoinCard" -> rel.JoinCard.queries, "rel.Lpa" -> rel.Lpa.queries,
      "rel.Walks" -> rel.Walks.queries, "rel.LinkPred" -> rel.LinkPred.queries,
      "rel.Itemsets" -> rel.Itemsets.queries, "text.TextOps" -> text.TextOps.queries,
      "text.Tokenize" -> text.Tokenize.queries, "text.Phrases" -> text.Phrases.queries,
      "text.Entropy" -> text.Entropy.queries, "text.Budget" -> text.Budget.queries,
      "text.Overlap" -> text.Overlap.queries, "text.CorpusFilters" -> text.CorpusFilters.queries,
      "text.Retrieval" -> text.Retrieval.queries, "text.KneserNey" -> text.KneserNey.queries,
      "text.Keywords" -> text.Keywords.queries, "text.Eval" -> text.Eval.queries,
      "text.Privacy" -> text.Privacy.queries, "text.Drift" -> text.Drift.queries,
      "ml.Vocab" -> ml.Vocab.queries, "ml.Hdr" -> ml.Hdr.queries, "ml.Hll" -> ml.Hll.queries,
      "ml.LshPlanner" -> ml.LshPlanner.queries, "ml.Projection" -> ml.Projection.queries,
      "ml.Similarity" -> ml.Similarity.queries, "ml.Lda" -> ml.Lda.queries,
      "ml.Bloom" -> ml.Bloom.queries, "ml.Cluster" -> ml.Cluster.queries,
      "ml.Bitext" -> ml.Bitext.queries, "ml.Pca" -> ml.Pca.queries,
      "ml.Quantize" -> ml.Quantize.queries, "ingest.Tickets" -> ingest.Tickets.queries,
      "ingest.Wet" -> ingest.Wet.queries, "multimodal.Media" -> multimodal.Media.queries,
      "sink.Orc" -> sink.Orc.queries, "sink.Avro" -> sink.Avro.queries,
      "sink.Lake" -> sink.Lake.queries, "sink.Skipping" -> sink.Skipping.queries,
      "sink.Dpp" -> sink.Dpp.queries, "sink.RangeLayout" -> sink.RangeLayout.queries,
      "streaming.Sessions" -> streaming.Sessions.queries)
  }

  /** Queries the draw must skip: model fits Bench also skips, the ticket
    * queries (they read the repository's fixture directory by absolute
    * path), and q124 (it writes a fixed directory outside the work dir). */
  def excluded(name: String, module: String): Boolean =
    graft.Bench.heavyModelFits(name) || module == "ingest.Tickets" ||
      name == "q124_bucketed_join"

  private def key(name: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5").digest(name.getBytes(UTF_8))
    md.map(b => f"$b%02x").mkString
  }

  /** The pinned queries plus `drawn` more, allotted to modules in
    * proportion to their size (largest remainder), and picked inside each
    * module by md5 of the name: deterministic, no RNG. */
  def draw(drawn: Int): Seq[Entry] = {
    val owner = modules.flatMap { case (m, qs) => qs.keys.map(_ -> m) }.toMap
    val pinned = Pinned.map(n => Entry(n, owner(n), pinned = true))
    val pool = modules.map { case (m, qs) =>
      m -> qs.keys.filter(n => !Pinned.contains(n) && !excluded(n, m)).toSeq.sortBy(key)
    }.filter(_._2.nonEmpty)
    val total = pool.map(_._2.size).sum.toDouble
    val quota = pool.map { case (m, qs) => (m, qs.size * drawn / total) }
    val base = quota.map { case (m, q) => m -> math.floor(q).toInt }.toMap
    val extra = quota.sortBy { case (m, q) => (-(q - math.floor(q)), m) }
      .take(drawn - base.values.sum).map(_._1).toSet
    val picks = pool.flatMap { case (m, qs) =>
      qs.take(base(m) + (if (extra(m)) 1 else 0)).map(n => Entry(n, m, pinned = false))
    }
    pinned ++ picks.sortBy(_.name)
  }

  def readList(benchDir: File): Seq[Entry] =
    lines(new File(benchDir, "sweep/queries.tsv")).map { l =>
      val Array(n, m, kind) = l.split("\t")
      Entry(n, m, kind == "pinned")
    }

  def readExpected(benchDir: File): Map[String, Expected] =
    lines(new File(benchDir, "sweep/expected.tsv")).map { l =>
      val Array(n, rows, digest) = l.split("\t")
      n -> Expected(rows.toLong, digest)
    }.toMap

  private def lines(f: File): Seq[String] =
    new String(Files.readAllBytes(f.toPath), UTF_8).split("\n").toSeq
      .filter(l => l.nonEmpty && !l.startsWith("#"))

  /** The seed's query order: a Fisher-Yates shuffle. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    val rng = new java.util.SplittableRandom(seed)
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}
