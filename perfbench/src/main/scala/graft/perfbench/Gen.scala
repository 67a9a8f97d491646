package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators for the `lda_chain` and `curation_funnel`
  * workloads. Pure JVM code with no Spark session: the same (seed, size,
  * version) always yields byte-identical files, including the parquet
  * corpus, which is written through parquet-hadoop's example writer with a
  * fixed row-group layout and no timestamps.
  *
  * Outputs land in `<root>/<kind>-v<Version>-s<seed>-n<size>/` and are
  * reused when `manifest.json` (written last) is already there. */
object Gen {
  val Version = 2

  /** Zipf–Mandelbrot sampler over ranks 0 until n: rank r has weight
    * 1 / (r + 1 + q)^s. With q = 0 it is plain Zipf. */
  final class Zipf(n: Int, s: Double, q: Double = 0.0) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0 + q, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(rng: SplittableRandom): Int = {
      val u = rng.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      lo
    }
  }

  private val Onsets = Array("b", "d", "f", "g", "k", "l", "m", "n", "p", "r",
    "s", "t", "v", "z", "ch", "sh", "br", "tr")
  private val Vowels = Array("a", "e", "i", "o", "u")

  /** Rank → word. Bijective (the rank's digits in base 90, offset so every
    * word has at least two syllables), lowercase ASCII letters only, so no
    * vocabulary word can look like a PII token. */
  def word(rank: Int): String = {
    val base = Onsets.length * Vowels.length
    var x = rank + base
    val sb = new StringBuilder
    while (x > 0) {
      val d = x % base
      sb.append(Onsets(d / Vowels.length)).append(Vowels(d % Vowels.length))
      x /= base
    }
    sb.toString
  }

  private def hex(rng: SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach(_ => sb.append("0123456789abcdef".charAt(rng.nextInt(16))))
    sb.toString
  }

  /** The five PII kinds the cleanse chain must scrub (FIXTURES.md A2). */
  val PiiKinds: Seq[String] = Seq("email", "url", "uuid", "md5", "ipv4")

  def piiToken(kind: String, rng: SplittableRandom): String = kind match {
    case "email" => s"${word(rng.nextInt(500))}${rng.nextInt(1000)}@${word(rng.nextInt(50))}.com"
    case "url" => s"https://${word(rng.nextInt(50))}.example.org/${hex(rng, 6)}"
    case "uuid" => s"${hex(rng, 8)}-${hex(rng, 4)}-${hex(rng, 4)}-${hex(rng, 4)}-${hex(rng, 12)}"
    case "md5" => hex(rng, 32)
    case _ => s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${rng.nextInt(256)}"
  }

  def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def writeFile(f: File, body: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), UTF_8))
    try w.write(body) finally w.close()
  }

  /** Build `dir` with `fill` in a temp sibling, then move it into place, so
    * a killed run never leaves a half-written cache entry behind. */
  private def cached(dir: File)(fill: File => Unit): File = {
    if (new File(dir, "manifest.json").isFile) return dir
    val tmp = new File(dir.getPath + s".tmp${ProcessHandle.current().pid()}")
    deleteTree(tmp)
    tmp.mkdirs()
    fill(tmp)
    deleteTree(dir)
    Files.move(tmp.toPath, dir.toPath, StandardCopyOption.ATOMIC_MOVE)
    dir
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  private def manifestJson(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      val value = v match {
        case s: String => jsonString(s)
        case other => other.toString
      }
      s"  ${jsonString(k)}: $value"
    }.mkString("{\n", ",\n", "\n}\n")

  // ------------------------------------------------------------ tickets
  final case class TicketsInput(dir: File, tickets: Int, commentFiles: Int,
      comments: Int, tokens: Long, piiTokens: Seq[String]) {
    def ticketsPath: String = new File(dir, "tickets.json").getPath
    def commentsDir: String = new File(dir, "comments").getPath
  }

  private val Entities = Array("&amp;", "&quot;", "&lt;", "&gt;", "&#39;")
  private val Statuses = Array("open", "hold", "pending", "solved", "closed")
  private val Types = Array("incident", "question", "problem", "task")
  private val Outcomes = Array("resolved", "workaround", "duplicate", "wontfix")

  /** Head offset of the tickets' Zipf–Mandelbrot vocabulary. It flattens
    * the head: the rank-0 word gets about 3.8% of tokens, below the share
    * of "the" in English text. Plain Zipf (offset 0) gives that word 12%
    * of tokens. At 400 tickets it then occurs in every 110-token window of
    * the cleansed corpus on about 4.5% of seeds, and `ml.Coherence.cv`
    * fails on such a corpus (see perfbench/NOTES.md, "Known program
    * defect"). With the offset, each of the three commonest words was
    * missing from at least 22 windows (40 on average) on every one of 611
    * seeds checked. */
  val TicketsHeadOffset = 2.7

  /** Zendesk-shaped tickets (FIXTURES.md A1) plus one comment file for
    * about 90% of them (A2). Each body is 1-4 CRLF-separated lines of
    * Zipf–Mandelbrot words; lines carry HTML entities, NFKC-foldable
    * characters and PII tokens at fixed rates. `tickets.json` is one
    * multi-line JSON array. */
  def tickets(root: File, seed: Long, n: Int): TicketsInput = {
    val dir = new File(root, s"tickets-v$Version-s$seed-n$n")
    cached(dir) { out =>
      val pii = mutable.ArrayBuffer.empty[String]
      var tokens = 0L
      var nFiles = 0
      var nComments = 0
      val rng = new SplittableRandom(seed * 1000003L + 17)
      val zipf = new Zipf(20000, 1.05, TicketsHeadOffset)
      def line(): String = {
        val k = 5 + rng.nextInt(11)
        val ws = Array.fill(k)(word(zipf.sample(rng)))
        tokens += k
        val r = rng.nextInt(100)
        if (r < 6) { // PII token, one kind per line
          val t = piiToken(PiiKinds(rng.nextInt(PiiKinds.size)), rng)
          pii += t
          ws(rng.nextInt(k)) = t
        } else if (r < 10) {
          ws(rng.nextInt(k)) += Entities(rng.nextInt(Entities.length))
        } else if (r < 13) { // ligature / full-width digits / NBSP fold under NFKC
          val i = rng.nextInt(k)
          ws(i) = rng.nextInt(3) match {
            case 0 => "\ufb01" + ws(i)
            case 1 => ws(i) + "\uff11\uff12"
            case _ => ws(i) + "\u00a0" + word(zipf.sample(rng))
          }
        }
        ws.mkString(" ")
      }
      def body(): String = Seq.fill(1 + rng.nextInt(4))(line()).mkString("\r\n")
      def ts(base: Long): String =
        java.time.Instant.ofEpochSecond(base).toString
      val t0 = 1704067200L // 2024-01-01T00:00:00Z
      val sb = new StringBuilder("[\n")
      (0 until n).foreach { i =>
        val id = 100000L + i
        val created = t0 + rng.nextInt(86400 * 300)
        val subject = Seq.fill(3 + rng.nextInt(6))(word(zipf.sample(rng))).mkString(" ")
        tokens += subject.split(' ').length
        val tags = if (rng.nextInt(5) == 0) "" else
          Seq.fill(rng.nextInt(4))(jsonString(word(rng.nextInt(40)))).mkString(", \"tags\": [", ", ", "]")
        if (i > 0) sb.append(",\n")
        sb.append(s"""  {"id": $id, "created_at": "${ts(created)}", "updated_at": "${ts(created + rng.nextInt(86400 * 20))}",""")
          .append(s""" "status": "${Statuses(rng.nextInt(Statuses.length))}", "subject": ${jsonString(subject)},""")
          .append(s""" "description": ${jsonString(body())}$tags,""")
          .append(s""" "fields": [{"id": 1, "value": "${Types(rng.nextInt(Types.length))}"},""")
          .append(""" {"id": 2, "value": "ignored"},""")
          .append(s""" {"id": 3, "value": "${Outcomes(rng.nextInt(Outcomes.length))}"}]}""")
        if (rng.nextInt(10) != 0) {
          nFiles += 1
          val k = 1 + rng.nextInt(10)
          nComments += k
          val cs = (0 until k).map { j =>
            s"""    {"id": ${id * 100 + j}, "created_at": "${ts(created + 60L * (j + 1) + rng.nextInt(3600))}", "plain_body": ${jsonString(body())}}"""
          }
          writeFile(new File(out, s"comments/${id}_comments.json"),
            cs.mkString("{\"comments\": [\n", ",\n", "\n]}\n"))
        }
      }
      writeFile(new File(out, "tickets.json"), sb.append("\n]\n").toString)
      writeFile(new File(out, "pii.txt"), pii.mkString("", "\n", "\n"))
      writeFile(new File(out, "manifest.json"), manifestJson(Seq(
        "generator" -> "tickets", "version" -> Version, "seed" -> seed,
        "tickets" -> n, "comment_files" -> nFiles, "comments" -> nComments,
        "tokens" -> tokens, "pii_tokens" -> pii.size)))
    }
    val m = Manifest.read(new File(dir, "manifest.json"))
    val piiList = new String(Files.readAllBytes(new File(dir, "pii.txt").toPath), UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
    TicketsInput(dir, m("tickets").toInt, m("comment_files").toInt,
      m("comments").toInt, m("tokens").toLong, piiList)
  }

  // ------------------------------------------------------------- corpus
  final case class CorpusInput(dir: File, docs: Int, tokens: Long,
      exactDupsPlanted: Int, nearDupsPlanted: Int, spanDocsPlanted: Int,
      nonBenchDocs: Int, exactDupRemovals: Int) {
    def path: String = dir.getPath
  }

  /** q70's benchmark-bucket rule: a document whose md5(doc_id) starts with
    * 'f' belongs to the protected benchmark set and is not corpus. */
  def isBench(docId: Long): Boolean = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(docId.toString.getBytes(UTF_8))
    ((md(0) >> 4) & 0xf) == 0xf
  }

  /** A `documents.parquet` corpus (the shared-table schema) with log-normal
    * lengths (median ~100 tokens) over a 30k-word Zipf vocabulary, and
    * planted structure: 8% exact duplicates, 8% near duplicates (5% of
    * tokens substituted), 3% sharing one 60-token span. The manifest records
    * the planted counts and the exact-duplicate removals q70 must report,
    * computed with q70's own benchmark-bucket rule. */
  def corpus(root: File, seed: Long, n: Int): CorpusInput = {
    val dir = new File(root, s"corpus-v$Version-s$seed-n$n")
    cached(dir) { out =>
      val rng = new SplittableRandom(seed * 7919L + 3)
      val zipf = new Zipf(30000, 1.0)
      def randomDoc(): Array[String] = {
        val len = math.max(3, math.min(2000,
          math.round(math.exp(math.log(100) + 0.5 * rng.nextGaussian())).toInt))
        Array.fill(len)(word(zipf.sample(rng)))
      }
      val span = Array.fill(60)(word(zipf.sample(rng)))
      val texts = new Array[String](n)
      var exact, near, spans = 0
      var tokens = 0L
      (0 until n).foreach { i =>
        val r = rng.nextInt(100)
        val toks: Array[String] =
          if (i > 10 && r < 8) { exact += 1; texts(rng.nextInt(i)).split(' ') }
          else if (i > 10 && r < 16) {
            near += 1
            val src = texts(rng.nextInt(i)).split(' ')
            src.map(w => if (rng.nextInt(100) < 5) word(zipf.sample(rng)) else w)
          } else if (r < 19) {
            spans += 1
            val d = randomDoc()
            val at = rng.nextInt(d.length + 1)
            (d.take(at) ++ span ++ d.drop(at))
          } else randomDoc()
        tokens += toks.length
        texts(i) = toks.mkString(" ")
      }
      val seen = mutable.HashSet.empty[String]
      var nonBench = 0
      var removals = 0
      (0 until n).foreach { i =>
        if (!isBench(i.toLong)) {
          nonBench += 1
          if (!seen.add(texts(i))) removals += 1
        }
      }
      Parquet.writeDocuments(new File(out, "documents.parquet/part-00000.parquet"),
        texts.indices.map(i => (i.toLong, texts(i))))
      writeFile(new File(out, "manifest.json"), manifestJson(Seq(
        "generator" -> "corpus", "version" -> Version, "seed" -> seed,
        "docs" -> n, "tokens" -> tokens, "exact_dups_planted" -> exact,
        "near_dups_planted" -> near, "span_docs_planted" -> spans,
        "non_bench_docs" -> nonBench, "exact_dup_removals" -> removals)))
    }
    val m = Manifest.read(new File(dir, "manifest.json"))
    CorpusInput(dir, m("docs").toInt, m("tokens").toLong,
      m("exact_dups_planted").toInt, m("near_dups_planted").toInt,
      m("span_docs_planted").toInt, m("non_bench_docs").toInt,
      m("exact_dup_removals").toInt)
  }
}

/** Reads the flat manifests [[Gen]] writes (string or number values). */
object Manifest {
  private val Field = "\"([^\"]+)\":\\s*(\"[^\"]*\"|[-0-9.]+)".r
  def read(f: File): Map[String, String] = {
    val text = new String(Files.readAllBytes(f.toPath), UTF_8)
    Field.findAllMatchIn(text).map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
  }
}

/** Deterministic single-file parquet writer for the `documents` schema
  * (doc_id, text, lang, source, n_chars). */
object Parquet {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.hadoop.metadata.CompressionCodecName
  import org.apache.parquet.schema.MessageTypeParser

  private val Schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional int64 doc_id;
      |  optional binary text (STRING);
      |  optional binary lang (STRING);
      |  optional binary source (STRING);
      |  optional int64 n_chars;
      |}""".stripMargin)

  def writeDocuments(f: File, rows: Seq[(Long, String)]): Unit = {
    f.getParentFile.mkdirs()
    val factory = new SimpleGroupFactory(Schema)
    val w = ExampleParquetWriter.builder(new Path(f.getAbsolutePath))
      .withConf(new Configuration())
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (id, text) =>
      w.write(factory.newGroup().append("doc_id", id).append("text", text)
        .append("lang", "en").append("source", s"gen${id % 7}")
        .append("n_chars", text.length.toLong))
    } finally w.close()
    // the hadoop local filesystem leaves a checksum sibling; the corpus dir
    // holds exactly one data file
    new File(f.getParentFile, s".${f.getName}.crc").delete()
  }
}
