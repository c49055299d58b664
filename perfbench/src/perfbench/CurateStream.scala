package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.connector.{LogSourceV2, LogStore}
import graft.ext.Dedup
import graft.streaming.StreamingDedup
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Ingest-time curation: a seeded corpus appended to the log store as
  * `Slices` slices (one segment each), then drained through
  * `StreamingDedup.curateStream` one slice per micro-batch. Each corpus
  * plants perturbed and exact copies of earlier originals, within a
  * slice and across slices, plus short documents the quality gate drops.
  *
  * Operation: one stream, from query start to the last batch committed
  * (`op_s` is the micro-batch time). Check: the kept ids equal the
  * planted originals and `Dedup.curateCorpus` on the same corpus. */
final class CurateStream(seed: Long, work: Path) extends Workload {
  import CurateStream._

  private val timed = mutable.ArrayBuffer.empty[Corpus]
  private var warm: Corpus = _
  /** `curateCorpus` result per corpus, computed once per run. */
  private val batchKept = mutable.Map.empty[Corpus, Set[Long]]

  def generate(): Unit = {
    val dir = work.resolve("inputs")
    val vocab = {
      val r = new scala.util.Random(seed)
      (0 until 600).map(_ => Seq.fill(3 + r.nextInt(6))(
        ('a' + r.nextInt(26)).toChar).mkString).distinct
        .filterNot(graft.ext.TextAnalysis.stopwords.contains).toIndexedSeq
    }
    timed ++= (0 until TimedCorpora).map(c => Corpus.write(dir.resolve(s"t$c"),
      new scala.util.Random(seed * 6151 + c), vocab, Slices))
    warm = Corpus.write(dir.resolve("w"), new scala.util.Random(~seed), vocab,
      Main.warmInputs(JitOps))
  }

  /** Slices appended and drained one batch each, on a stream, index and
    * checkpoint kept across rounds: the first batch has no history, later
    * ones probe it. */
  def warmup(spark: SparkSession, r: Int): Unit = {
    val base = work.resolve("warm")
    val store = LogStore(base.resolve("log").toString)
    Main.warmOps(r, JitOps).foreach { i =>
      store.append(spark.read.schema(docSchema).json(warm.slices(i).toString)
        .coalesce(1), "scope", "cu")
      val q = StreamingDedup.curateStream(
        store.readStream(spark, "scope", "cu", docSchema, maxFilesPerTrigger = 1),
        base.resolve("idx").toString, base.resolve("kept").toString,
        base.resolve("ckpt").toString)
      try q.processAllAvailable()
      finally q.stop()
    }
  }

  def phase(spark: SparkSession, name: String, tr: Tracer): Phase =
    new CuratePhase(spark, work.resolve(name), timed.toSeq, tr, batchKept)
}

object CurateStream {
  val Slices = 3
  val JitOps = 2
  val OriginalsPerSlice = 200
  val TimedCorpora = 12

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  /** A corpus on disk: one JSON-lines file per slice. */
  final class Corpus(val slices: Seq[Path], val docs: Int,
      val originals: Set[Long])

  object Corpus {
    private val stop = graft.ext.TextAnalysis.stopwords.toIndexedSeq

    def write(dir: Path, rnd: scala.util.Random, vocab: IndexedSeq[String],
        slices: Int): Corpus = {
      Files.createDirectories(dir)
      def word() = vocab(rnd.nextInt(vocab.size))
      // 20-40 tokens, a quarter stopwords and at least two, so every
      // original passes the curation gate
      def original(): Array[String] = {
        val t = Array.fill(20 + rnd.nextInt(21))(
          if (rnd.nextDouble() < 0.25) stop(rnd.nextInt(stop.size)) else word())
        t(2) = "the"; t(7) = "of"
        t
      }
      val kept = mutable.ArrayBuffer.empty[(Long, Array[String])]
      var copyId = 1000000L
      var docs = 0
      val files = (0 until slices).map { s =>
        val lines = mutable.ArrayBuffer.empty[(Long, String)]
        (0 until OriginalsPerSlice).foreach { k =>
          val id = s * 10000L + k
          if (rnd.nextDouble() < 0.04) // below the gate's 10-token floor
            lines += ((id, Array.fill(5 + rnd.nextInt(4))(word()).mkString(" ")))
          else {
            val t = original()
            kept += ((id, t))
            lines += ((id, t.mkString(" ")))
          }
        }
        // copies of originals from this slice or an earlier one
        (0 until OriginalsPerSlice * 15 / 100).foreach { _ =>
          val (_, src) = kept(rnd.nextInt(kept.size))
          val t = src.clone()
          // perturbed: the last word replaced (one shingle of 17-37
          // changes, Jaccard >= 0.89); otherwise an exact copy
          if (rnd.nextBoolean()) t(t.length - 1) = word()
          copyId += 1
          lines += ((copyId, t.mkString(" ")))
        }
        docs += lines.size
        val f = dir.resolve(s"slice$s.json")
        Files.writeString(f, rnd.shuffle(lines).map { case (id, text) =>
          s"""{"doc_id":$id,"text":${Json.str(text)}}"""
        }.mkString("", "\n", "\n"), StandardCharsets.UTF_8)
        f
      }
      new Corpus(files, docs, kept.map(_._1).toSet)
    }
  }

  private val PhaseDesc = "curate b(\\d+): (.*)".r

  /** `curateFoldBatch`'s job-description phases, by prefix. */
  private val PhaseMetric = Seq("gate" -> "ext.gate_shingle",
    "history" -> "ext.history_join", "in-batch pairs" -> "ext.pairs",
    "in-batch CC" -> "ext.cc", "kept sink" -> "ext.kept_sink",
    "fold" -> "ext.fold_publish", "compaction" -> "ext.compaction")

  final class CuratePhase(spark: SparkSession, dir: Path, corpora: Seq[Corpus],
      tr: Tracer, batchKept: mutable.Map[Corpus, Set[Long]]) extends Phase {
    private var i = 0
    private val batchS = mutable.ArrayBuffer.empty[Double]
    private val drainS = mutable.ArrayBuffer.empty[Double]
    private val queryStartMs = mutable.ArrayBuffer.empty[Double]
    private val runs = mutable.ArrayBuffer.empty[(Corpus, Path)]
    private var docs = 0L
    private var keptDocs = 0L
    private var batches = 0

    private def streamDir(i: Int) = dir.resolve(s"s$i")

    def step(): Boolean = {
      if (i >= corpora.size) return false
      val c = corpora(i)
      val op = s"stream$i"
      val base = streamDir(i)
      val store = LogStore(base.resolve("log").toString)
      c.slices.zipWithIndex.foreach { case (f, s) =>
        val df = spark.read.schema(docSchema).json(f.toString).coalesce(1)
        val w = tr.now
        store.append(df, "scope", "cu")
        tr.record("connector.append", w, tr.now, s"$op/b$s")
      }
      val w0 = tr.now
      val clock = HostSteal.start()
      val q = StreamingDedup.curateStream(
        store.readStream(spark, "scope", "cu", docSchema, maxFilesPerTrigger = 1),
        base.resolve("idx").toString, base.resolve("kept").toString,
        base.resolve("ckpt").toString)
      try q.processAllAvailable()
      finally q.stop()
      val steal = clock.share
      drainS += clock.wallSeconds * (1 - steal)
      Main.log(f"$op: ${clock.wallSeconds}%.3f s wall, steal share $steal%.3f")
      val ps = Progress.dataBatches(q)
      require(ps.size == c.slices.size,
        s"curate stream ran ${ps.size} data batches for ${c.slices.size} slices")
      // drain ends at the last batch's commit, not at query stop
      val w1 = ps.map(p => Progress.startMs(p) + Progress.dur(p, "triggerExecution")).max
      batchS ++= ps.map(_.batchDuration / 1000.0 * (1 - steal))
      queryStartMs += Progress.startMs(ps.head) - w0
      docs += c.docs
      batches += ps.size
      if (tr.on) {
        Progress.record(tr, q, op, tr.record("curate.stream", w0, w1, op))
      }
      runs += ((c, base))
      i += 1
      true
    }

    def opSeconds: Seq[Double] = batchS.toSeq

    def endToEnd: Seq[Metric] = Seq(
      Metric("op_s", Stats.median(batchS.toSeq), "s"),
      Metric("items_per_s", docs / drainS.sum, "1/s"))

    def verify(): (Int, Int) = {
      val wrong = runs.count { case (c, base) =>
        val kept = StreamingDedup.readKept(spark, base.resolve("kept").toString)
          .select("doc_id").collect().map(_.getLong(0))
        keptDocs += kept.length
        val batch = batchKept.getOrElseUpdate(c, Dedup.curateCorpus(
          spark.read.schema(docSchema).json(c.slices.map(_.toString): _*))
          .collect().map(_.getLong(0)).toSet)
        val ok = kept.length == kept.toSet.size && kept.toSet == c.originals &&
          batch == c.originals
        if (!ok) Main.log(s"curate check failed at $base: kept ${kept.length}, " +
          s"batch ${batch.size}, planted ${c.originals.size}")
        !ok
      }
      (runs.size, wrong)
    }

    /** One span per curate phase of each batch, from the end of the
      * previous phase's last job (or the start of the batch's sink call)
      * to the end of its own last job, so the driver work that plans and
      * commits a phase counts with it; its jobs become its children. */
    private def phaseSpans(tr: Tracer): Unit =
      tr.named("streaming.add_batch").foreach { ab =>
        val byPhase = tr.jobs.filter(j => j.start >= ab.start && j.start <= ab.end)
          .flatMap(j => j.desc match {
            case PhaseDesc(_, ph) => PhaseMetric.find(m => ph.startsWith(m._1))
              .map(m => (m._2, j))
            case _ => None
          })
          .groupBy(_._1).toSeq.sortBy(_._2.map(_._2.start).min)
        byPhase.foldLeft(ab.start) { case (from, (metric, js)) =>
          val end = js.map(_._2.end).max
          tr.record(metric, math.min(from, js.map(_._2.start).min), end, ab.op, ab.id)
          end
        }
      }

    def layers(tr: Tracer): Seq[Metric] = {
      phaseSpans(tr)
      tr.finish()
      val streams = tr.named("curate.stream")
      val n = math.max(1, batches).toDouble
      def per(name: String) = tr.named(name).map(_.ms).sum / 1000.0 / n
      val driverCc = tr.jobs.map(_.desc).collect {
        case PhaseDesc(b, ph) if ph.startsWith("in-batch CC (driver") => b
      }.size
      val last = runs.lastOption.map(_._2)
      val leaf = (s: Span) => s.name.startsWith("ext.") ||
        Set("connector.offset", "connector.getbatch", "streaming.plan",
          "streaming.commit")(s.name)
      tr.sparkLayers(streams, batches) ++
        PhaseMetric.map { case (_, m) => Metric(m + "_s", per(m), "s") } ++ Seq(
        Metric("ext.cc_driver_batches", driverCc.toDouble, "count"),
        Metric("ext.index_mb",
          last.fold(0L)(b => Main.dirSize(b.resolve("idx"))) / 1048576.0, "MB"),
        Metric("ext.rejected_frac", 1.0 - keptDocs.toDouble / docs, "ratio"),
        Metric("connector.append_s", per("connector.append"), "s"),
        Metric("connector.offset_s", per("connector.offset"), "s"),
        Metric("connector.getbatch_s", per("connector.getbatch"), "s"),
        Metric("connector.offset_bytes",
          last.fold(0L)(b => Progress.offsetBytes(b.resolve("ckpt"))).toDouble,
          "bytes"),
        Metric("connector.segments", last.fold(0)(b =>
          LogSourceV2.listSegments(b.resolve("log/scope/cu").toString).size)
          .toDouble, "count"),
        Metric("streaming.add_batch_s", per("streaming.add_batch"), "s"),
        Metric("streaming.commit_s", per("streaming.commit"), "s"),
        Metric("streaming.query_start_s",
          queryStartMs.sum / 1000.0 / math.max(1, queryStartMs.size), "s"),
        Metric("trace.coverage_frac", tr.coverage(streams, leaf), "ratio"))
    }
  }
}
