package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Caching.CacheLedger
import graft.core.ChunkStrategy
import graft.operators.{Dedup, Similarity, TextAnalysis}
import graft.pipeline.{CuratePipeline, EmbedPipeline, HashEmbedder, VectorRecord}
import graft.sinks.{Sinks, VectorDbSinks}
import graft.sources.DocumentReader

/** What one operation handed to the program. */
final case class Op(inputBytes: Long, queries: Int)

/** One workload: a closed loop with one client. `generate`, `bind`,
  * `check`, `release` and `finish` run outside every timed region;
  * `oneTime` is timed as set-up; `op` is the timed operation. */
abstract class Workload(val ctx: Ctx) {
  def name: String
  /** Operations per whole round; every run times whole rounds. */
  def roundSize: Int
  def generate(): Unit
  /** Hands the generated inputs to a fresh session. */
  def bind(s: SparkSession): Unit = spark = s
  def oneTime(spark: SparkSession): Unit = ()
  def op(i: Int): Op
  /** Errors found in operation `i`'s output. */
  def check(i: Int): Seq[String]
  def release(): Unit = ()
  /** Runs the prefix jobs of operation `i` and records per-layer spans. */
  def traceOp(i: Int, tr: Tracer): Unit
  /** Per-layer values recorded once per traced run. */
  def traceOnce(tr: Tracer): Unit = ()
  /** Layer values of the timed operation just traced. */
  def traceAfterOp(i: Int, tr: Tracer): Unit = ()
  /** Final full check of the kept output, then each mutation test. */
  def finish(): Seq[String]
  /** Longest warm-up before the timed window, in seconds. */
  def maxWarmSec: Double
  def close(): Unit = ()

  protected var spark: SparkSession = _
  protected def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  /** `check` must pass on good output and fail on each corrupted copy. */
  protected def mutationErrors(name: String, errs: Seq[String]): Seq[String] =
    if (errs.isEmpty) Seq(s"mutation test '$name' was not caught by the check") else Nil
}

final case class Ctx(seed: Long, work: Path, cores: Int)

object Workloads {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "ingest" => new Ingest(ctx)
    case "trickle" => new Trickle(ctx)
    case "curate" => new Curate(ctx)
    case "retrieve" => new Retrieve(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val Width = 1536
  val ChunkSize = 256
  val ChunkOverlap = 128

  def exactChunks(docs: DataFrame) =
    EmbedPipeline.chunkStage(docs, ChunkStrategy.Exact, ChunkSize, ChunkOverlap)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).map(Files.size).sum

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** Multiset difference report of expected vs got chunk texts. */
  def compareTexts(what: String, expected: Seq[String], got: Seq[String]): Seq[String] =
    if (expected.sorted == got.sorted) Nil
    else Seq(s"$what: expected ${expected.length} chunks, got ${got.length}" +
      (if (expected.length == got.length) " with different texts" else ""))
}

/** `ingest`: one batch job over a directory of generated files. */
final class Ingest(ctx: Ctx) extends Workload(ctx) {
  import Workloads._
  val name = "ingest"
  val roundSize = 1
  val maxWarmSec = 30.0
  /** 5 x 9 files, so the largest file is TXT like the largest fixture. */
  val NumFiles = 45
  private val in = ctx.work.resolve("in")
  private var files: IndexedSeq[Gen.File] = _
  private var expected: Map[String, IndexedSeq[String]] = _
  private var totalBytes = 0L
  private var last: Option[Path] = None

  def generate(): Unit = {
    val rng = new Rng(ctx.seed)
    val vocab = new Vocab(rng)
    // size and format follow the reference fixtures (Gen.sizeTable,
    // Gen.FormatCycle) and, with the name, the size rank, so every seed has
    // the same files and the same partitioning (intake shuffles by file
    // name); the seed picks the contents.
    val mix = IndexedSeq.tabulate(NumFiles)(i => Gen.FormatCycle(i % Gen.FormatCycle.length))
    val sizes = Gen.sizeTable(NumFiles)
    files = sizes.indices.map(i => Gen.file(f"f$i%05d", mix(i), vocab, rng, sizes(i)))
    Gen.writeAll(in, files)
    expected = files.map(f => f.name -> Expect.tokenWindows(f.expectedText, ChunkSize, ChunkOverlap)).toMap
    totalBytes = files.map(_.bytes.length.toLong).sum
  }

  def expectedChunks: Long = expected.valuesIterator.map(_.length.toLong).sum

  private def out(i: Int) = ctx.work.resolve(s"out-$i")
  private def records = EmbedPipeline.embedStage(
    exactChunks(DocumentReader.intake(spark, in.toString)), new HashEmbedder(Width))

  def op(i: Int): Op = {
    Sinks.writeParquet(records, out(i).toString)
    Op(totalBytes, 1)
  }

  def check(i: Int): Seq[String] = {
    last.foreach(deleteTree)
    last = Some(out(i))
    val n = spark.read.parquet(out(i).toString).count()
    if (n == expectedChunks) Nil else Seq(s"ingest op $i wrote $n records, expected $expectedChunks")
  }

  def traceOp(i: Int, tr: Tracer): Unit = {
    val intake = tr.span(i, "sources.intake") { noop(DocumentReader.intake(spark, in.toString)) }
    val chunk = tr.span(i, "pipeline.chunk") { noop(exactChunks(DocumentReader.intake(spark, in.toString)).toDF()) }
    val embed = tr.span(i, "pipeline.embed") { noop(records.toDF()) }
    tr.layers.add("sources.intake_ms", intake)
    tr.layers.add("pipeline.chunk_ms", chunk - intake)
    tr.layers.add("pipeline.embed_ms", embed - chunk)
    tr.prefixMs = embed
  }

  override def traceAfterOp(i: Int, tr: Tracer): Unit = {
    tr.layers.add("sinks.write_ms", tr.lastOpMs - tr.prefixMs)
    tr.layers.add("sinks.bytes_per_vector", dirBytes(out(i)).toDouble / expectedChunks)
  }

  override def traceOnce(tr: Tracer): Unit = {
    tr.layers.add("sources.docs_out", DocumentReader.intake(spark, in.toString).count().toDouble)
    tr.layers.add("pipeline.chunks_out", expectedChunks.toDouble)
  }

  /** Full independent check of the kept output, then its mutations. */
  def finish(): Seq[String] = {
    val path = last.get.toString
    val rows = spark.read.parquet(path).select("id", "source_document", "source_text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    val sample = rows.map(_._1).sorted.take(48).toSet
    val vecs = spark.read.parquet(path).filter(col("id").isin(sample.toSeq: _*))
      .select("id", "source_text", "vector").collect()
      .map(r => (r.getString(0), r.getString(1), r.getSeq[Float](2).toArray))
    val errs = verify(rows, vecs)
    val (a, b) = (rows.head, vecs.head)
    val mutations =
      mutationErrors("chunk dropped", verify(rows.tail, vecs)) ++
        mutationErrors("duplicate id", verify(rows.updated(1, rows(1).copy(_1 = a._1)), vecs)) ++
        mutationErrors("vector component perturbed",
          verify(rows, vecs.updated(0, b.copy(_3 = b._3.updated(7, b._3(7) + 1e-3f)))))
    deleteTree(last.get)
    errs ++ mutations
  }

  private def verify(rows: Seq[(String, String, String)],
                     vecs: Seq[(String, String, Array[Float])]): Seq[String] = {
    val byDoc = rows.groupBy(_._2)
    val missing = expected.keySet -- byDoc.keySet
    val textErrs = expected.toSeq.flatMap { case (doc, want) =>
      compareTexts(s"ingest $doc", want, byDoc.getOrElse(doc, Nil).map(_._3))
    }
    val dupIds = rows.length - rows.map(_._1).distinct.length
    val vecErrs = vecs.flatMap { case (id, text, v) =>
      val want = Expect.embed(text, Width)
      if (v.length != Width) Some(s"ingest vector $id has width ${v.length}")
      else if (v.indices.exists(k => math.abs(v(k) - want(k)) > Expect.EmbedTolerance))
        Some(s"ingest vector $id differs from the documented embedder")
      else None
    }
    textErrs.take(3) ++ (if (missing.nonEmpty) Seq(s"ingest: ${missing.size} files have no records") else Nil) ++
      (if (dupIds > 0) Seq(s"ingest: $dupIds duplicate record ids") else Nil) ++ vecErrs.take(3)
  }
}

/** `trickle`: one small file per request, upserted to the stub. */
final class Trickle(ctx: Ctx) extends Workload(ctx) {
  import Workloads._
  val name = "trickle"
  /** One request per size class; formats cycle through all five. */
  val SizesKb = IndexedSeq(2, 3, 4, 6, 8, 11, 15, 20)
  val roundSize = SizesKb.length
  val maxWarmSec = 30.0
  private var files: IndexedSeq[Gen.File] = _
  private var expected: IndexedSeq[IndexedSeq[String]] = _
  private var stub: Stub = _
  private var received = Vector.empty[Stub.Point]
  private var lastPosts = 0L
  private var lastStubNanos = 0L

  private def dir(k: Int) = ctx.work.resolve(s"req-$k")

  def generate(): Unit = {
    val rng = new Rng(ctx.seed)
    val vocab = new Vocab(rng)
    // size k always has format k mod 5; the seed picks contents and the
    // order of requests within a round
    val order = rng.shuffle(SizesKb.indices)
    files = order.map(k => Gen.file(f"req$k%02d", Gen.Formats(k % Gen.Formats.length),
      vocab, rng, SizesKb(k) * 1024))
    files.zipWithIndex.foreach { case (f, k) => Gen.writeAll(dir(k), Seq(f)) }
    expected = files.map(f => Expect.tokenWindows(f.expectedText, ChunkSize, ChunkOverlap))
    stub = new Stub
  }

  private def records(k: Int) = EmbedPipeline.embedStage(
    exactChunks(DocumentReader.intake(spark, dir(k).toString)), new HashEmbedder(Width))

  def op(i: Int): Op = {
    val k = i % roundSize
    VectorDbSinks.upsert(records(k), stub.url, "bench-key", VectorDbSinks.Qdrant, s"request-$i")
    Op(files(k).bytes.length.toLong, 1)
  }

  def check(i: Int): Seq[String] = {
    received = stub.drain()
    verify(i % roundSize, received)
  }

  private def verify(k: Int, got: Seq[Stub.Point]): Seq[String] = {
    val want = expected(k)
    val errs = Seq.newBuilder[String]
    if (got.length != want.length)
      errs += s"trickle ${files(k).name}: stub received ${got.length} records, expected ${want.length}"
    if (got.map(_.id).distinct.length != got.length) errs += s"trickle ${files(k).name}: duplicate ids"
    if (got.exists(_.width != Width)) errs += s"trickle ${files(k).name}: vector width is not $Width"
    if (got.exists(_.document != files(k).name)) errs += s"trickle ${files(k).name}: wrong source_document"
    errs ++= compareTexts(s"trickle ${files(k).name}", want, got.map(_.text))
    errs.result()
  }

  def traceOp(i: Int, tr: Tracer): Unit = {
    val k = i % roundSize
    val intake = tr.span(i, "sources.intake") { noop(DocumentReader.intake(spark, dir(k).toString)) }
    val chunk = tr.span(i, "pipeline.chunk") { noop(exactChunks(DocumentReader.intake(spark, dir(k).toString)).toDF()) }
    val embed = tr.span(i, "pipeline.embed") { noop(records(k).toDF()) }
    tr.layers.add("sources.intake_ms", intake)
    tr.layers.add("pipeline.chunk_ms", chunk - intake)
    tr.layers.add("pipeline.embed_ms", embed - chunk)
    tr.layers.add("sources.docs_out", 1.0)
    tr.layers.add("pipeline.chunks_out", expected(k).length.toDouble)
    tr.prefixMs = embed
    lastPosts = stub.posts.get(); lastStubNanos = stub.handleNanos.get()
  }

  override def traceAfterOp(i: Int, tr: Tracer): Unit = {
    tr.layers.add("sinks.upsert_ms", tr.lastOpMs - tr.prefixMs)
    tr.layers.add("sinks.posts_per_op", (stub.posts.get() - lastPosts).toDouble)
    tr.layers.add("sinks.stub_ms", (stub.handleNanos.get() - lastStubNanos) / 1e6)
  }

  def finish(): Seq[String] = {
    val k = (received.headOption.map(p => files.indexWhere(_.name == p.document))).getOrElse(0)
    val good = verify(k, received)
    val p = received.head
    good ++
      mutationErrors("record dropped", verify(k, received.tail)) ++
      mutationErrors("wrong width", verify(k, received.updated(0, p.copy(width = p.width - 1)))) ++
      mutationErrors("duplicate id", verify(k, received.updated(1, received(1).copy(id = p.id))))
  }

  override def close(): Unit = if (stub != null) stub.stop()
}

/** `curate`: one `CuratePipeline.run` over a corpus with planted exact
  * duplicates, near-duplicates and low-quality documents. */
final class Curate(ctx: Ctx) extends Workload(ctx) {
  import Workloads._
  val name = "curate"
  val roundSize = 1
  val maxWarmSec = 30.0
  val Unique = 1200
  val ExactDups = 150
  val NearDups = 150
  val LowQuality = 150
  val MinQuality = 0.2
  val Jaccard = 0.8

  final case class Doc(id: Long, text: String, kind: String, partner: Long)
  private var docs: IndexedSeq[Doc] = _
  private var frame: DataFrame = _
  private var lastVectors: org.apache.spark.sql.Dataset[VectorRecord] = _
  private var lastReport: CuratePipeline.Report = _
  private var lastSurvivors: Set[String] = Set.empty
  private var shingles: Map[Long, Set[String]] = _

  def generate(): Unit = {
    val rng = new Rng(ctx.seed)
    val vocab = new Vocab(rng)
    def prose(): String = (0 until 90 + rng.nextInt(90)).map(_ => vocab.draw(rng)).mkString(" ")
    val originals = (0 until Unique).map(i => Doc(i.toLong, prose(), "unique", -1L))
    val picks = rng.shuffle(originals).take(ExactDups + NearDups)
    val exact = picks.take(ExactDups).zipWithIndex.map { case (d, j) =>
      Doc(Unique + j.toLong, d.text, "exact", d.id) }
    val near = picks.drop(ExactDups).zipWithIndex.map { case (d, j) =>
      // a few words edited: two replaced by rare words
      val w = d.text.split(" ")
      for (_ <- 0 until 2) {
        val at = 1 + rng.nextInt(w.length - 2)
        var r = vocab.rare(rng)
        while (r == w(at)) r = vocab.rare(rng)
        w(at) = r
      }
      Doc(Unique + ExactDups + j.toLong, w.mkString(" "), "near", d.id) }
    val low = (0 until LowQuality).map { j =>
      // short, symbol-heavy, no stopwords: quality well under the cut
      val t = (0 until 6 + rng.nextInt(6)).map(_ => "#" * (2 + rng.nextInt(2)) + vocab.rare(rng).take(2) + "!!!").mkString(" ")
      Doc(Unique + ExactDups + NearDups + j.toLong, t, "low", -1L) }
    docs = originals ++ exact ++ near ++ low
    shingles = docs.filter(_.kind != "low").map(d => d.id -> Expect.shingles(d.text)).toMap
    val bad = near.filter(d => Expect.jaccard(shingles(d.id), shingles(d.partner)) < Jaccard + 0.05) ++
      low.filter(d => Expect.quality(d.text) >= 0.75 * MinQuality) ++
      (originals ++ exact ++ near).filter(d => Expect.quality(d.text) < 2 * MinQuality)
    require(bad.isEmpty, s"generator planted ${bad.length} documents on the wrong side of a threshold")
  }

  private def sourceOf(id: Long) = f"doc$id%05d"

  override def bind(s: SparkSession): Unit = {
    super.bind(s)
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType)))
    frame = s.createDataFrame(docs.map(d => Row(d.id, d.text, sourceOf(d.id))).asJava, schema)
  }

  def inputBytes: Long = docs.map(_.text.getBytes("UTF-8").length.toLong).sum

  def op(i: Int): Op = {
    val (v, rep) = CuratePipeline.run(frame, minQuality = MinQuality, jaccard = Jaccard)
    lastVectors = v; lastReport = rep
    Op(inputBytes, 1)
  }

  def check(i: Int): Seq[String] = {
    lastSurvivors = lastVectors.select("source_document").distinct().collect().map(_.getString(0)).toSet
    verify(lastReport, lastSurvivors)
  }

  override def release(): Unit = {
    if (lastVectors != null) lastVectors.unpersist(blocking = true)
    CacheLedger.releaseAll()
  }

  private def expectedVectors: Long =
    docs.filter(_.kind == "unique").map(d => Expect.charWindows(d.text.length, 256, 128).toLong).sum

  private def verify(rep: CuratePipeline.Report, survivors: Set[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val want = CuratePipeline.Report(docs.length, docs.length - LowQuality,
      Unique + NearDups, Unique, expectedVectors)
    if (rep != want) errs += s"curate funnel $rep, expected $want"
    val byName = docs.map(d => sourceOf(d.id) -> d).toMap
    val kept = survivors.toSeq.flatMap(byName.get)
    val planted = kept.filter(_.kind != "unique")
    if (planted.nonEmpty) errs += s"curate kept ${planted.length} planted documents (${planted.head.kind})"
    if (kept.map(_.text).distinct.length != kept.length) errs += "curate: two survivors share a text"
    val keptIds = kept.map(_.id).toSet
    val dropped = docs.filter(d => !keptIds(d.id) && d.kind != "low")
    val unexplained = dropped.filterNot { d =>
      // a partner: the planted original first, else any kept document
      val mine = shingles(d.id)
      (d.partner >= 0 && Expect.jaccard(mine, shingles(d.partner)) >= Jaccard) ||
        kept.exists(k => k.id != d.id && Expect.jaccard(mine, shingles(k.id)) >= Jaccard)
    }
    if (unexplained.nonEmpty) errs += s"curate dropped ${unexplained.length} documents with no partner at Jaccard >= $Jaccard"
    val lowKept = kept.filter(d => Expect.quality(d.text) < MinQuality)
    if (lowKept.nonEmpty) errs += s"curate kept ${lowKept.length} documents under the quality cut"
    errs.result()
  }

  /** The pipeline's first three stages as public operator calls, with
    * the parameters `CuratePipeline.run` uses. */
  private def qualityStage = frame.filter(TextAnalysis.qualityScore(col("text")) >= MinQuality)
  private def exactStage = {
    val quality = qualityStage
    quality.join(
      Dedup.exactKeepFirst(quality, "doc_id", "text").select(col("kept_id").as("doc_id")), "doc_id")
  }
  private def lshPairs(in: DataFrame, threshold: Double) =
    Dedup.minHashLshPairs(in, "doc_id", "text", n = 3, numHashes = 64, bands = 16, threshold = threshold)

  def traceOp(i: Int, tr: Tracer): Unit = {
    val quality = qualityStage
    val exact = exactStage
    val near = exact.join(lshPairs(exact, Jaccard).select(col("id_b").as("doc_id")).distinct(),
      Seq("doc_id"), "left_anti")
    val q = tr.span(i, "operators.TextAnalysis.quality") { noop(quality) }
    val e = tr.span(i, "operators.Dedup.exact") { noop(exact) }
    val n = tr.span(i, "operators.Dedup.near") { noop(near) }
    CacheLedger.releaseAll()
    tr.layers.add("operators.TextAnalysis.quality_ms", q)
    tr.layers.add("operators.Dedup.exact_ms", e - q)
    tr.layers.add("operators.Dedup.near_ms", n - e)
    tr.prefixMs = n
  }

  override def traceAfterOp(i: Int, tr: Tracer): Unit = {
    tr.layers.add("pipeline.chunks_out", lastReport.vectors.toDouble)
  }

  override def traceOnce(tr: Tracer): Unit = {
    // a threshold of 0 keeps every LSH candidate pair through the verify
    val candidates = lshPairs(exactStage, 0.0).count().toDouble
    val verified = lshPairs(exactStage, Jaccard).count().toDouble
    CacheLedger.releaseAll()
    tr.layers.add("operators.Dedup.lsh_candidates", candidates)
    tr.layers.add("operators.Dedup.candidate_yield", verified / candidates)
  }

  def finish(): Seq[String] = {
    val good = verify(lastReport, lastSurvivors)
    val planted = docs.find(_.kind == "exact").get
    val nearDup = docs.find(_.kind == "near").get
    good ++
      mutationErrors("planted exact duplicate kept", verify(lastReport, lastSurvivors + sourceOf(planted.id))) ++
      mutationErrors("planted near duplicate kept", verify(lastReport, lastSurvivors + sourceOf(nearDup.id)))
  }
}

/** `retrieve`: one `Similarity.hybridTopK` request for a batch of short
  * queries against a persisted chunk corpus. */
final class Retrieve(ctx: Ctx) extends Workload(ctx) {
  import Workloads._
  val name = "retrieve"
  val CorpusSize = 3000
  val Batches = 4
  val QueriesPerBatch = 8
  val K = 10
  val Depth = 50
  val roundSize = Batches
  val maxWarmSec = 30.0

  final case class Query(id: String, text: String, vec: Array[Float])
  private var corpus: IndexedSeq[VectorRecord] = _
  private var batches: IndexedSeq[IndexedSeq[Query]] = _
  private val corpusDir = ctx.work.resolve("corpus")
  private var corpusDf: DataFrame = _
  private var queryDfs: IndexedSeq[DataFrame] = _
  private var lastDf: DataFrame = _
  private var lastRows: Array[Row] = _
  private var verified = Map.empty[Int, Seq[Row]]

  def generate(): Unit = {
    val rng = new Rng(ctx.seed)
    val vocab = new Vocab(rng)
    val emb = new HashEmbedder(Width)
    corpus = (0 until CorpusSize).map(Retrieve.chunk(ctx.seed, vocab, _))
    // a query is 4 distinct words of vocabulary rank 100-199 from one
    // corpus chunk (each is in 9-18 % of the chunks), so every seed gives
    // the same term skew; it carries that chunk's id, so the program
    // must exclude the self-match
    val rank = vocab.words.zipWithIndex.toMap
    def band(c: Int) = corpus(c).source_text.split(" ").distinct.filter(w => rank(w) >= 100 && rank(w) < 200)
    val chosen = rng.shuffle(corpus.indices.filter(band(_).length >= 4)).take(Batches * QueriesPerBatch)
    batches = chosen.grouped(QueriesPerBatch).map(_.map { c =>
      val text = rng.shuffle(band(c).toIndexedSeq).take(4).mkString(" ")
      Query(corpus(c).id, text, emb.embedOne(text))
    }).toIndexedSeq
    // the same chunks, generated by the executors and written through
    // the program's parquet sink: the record shape `ingest` writes
    val s = Session.start(ctx)
    try {
      import s.implicits._
      val seed = ctx.seed
      Sinks.writeParquet(s.range(0, CorpusSize, 1, ctx.cores).map(i => Retrieve.chunk(seed, vocab, i.toInt)),
        corpusDir.toString)
    } finally s.stop()
  }

  override def bind(s: SparkSession): Unit = {
    super.bind(s)
    val schema = StructType(Seq(StructField("query_id", StringType), StructField("qtext", StringType),
      StructField("qvec", ArrayType(FloatType, containsNull = false))))
    queryDfs = batches.map(b => s.createDataFrame(b.map(q => Row(q.id, q.text, q.vec.toSeq)).asJava, schema))
  }

  override def oneTime(s: SparkSession): Unit = {
    corpusDf = s.read.parquet(corpusDir.toString)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    corpusDf.count()
  }

  def op(i: Int): Op = {
    val b = i % roundSize
    lastDf = Similarity.hybridTopK(queryDfs(b), corpusDf, "id", "source_text", "vector",
      "query_id", "qtext", "qvec", k = K, depth = Depth)
    lastRows = lastDf.collect()
    Op(batches(b).map(q => q.text.getBytes("UTF-8").length + 4L * Width).sum, QueriesPerBatch)
  }

  override def release(): Unit = CacheLedger.releaseAll()

  def check(i: Int): Seq[String] = {
    val b = i % roundSize
    val got = lastRows.toSeq.sortBy(r => (r.getString(0), r.getLong(7)))
    verified.get(b) match {
      case Some(prev) => if (prev == got) Nil else Seq(s"retrieve batch $b: result differs from its verified earlier answer")
      case None =>
        val errs = verify(b, got)
        if (errs.isEmpty) verified += b -> got
        errs
    }
  }

  private lazy val docTerms: IndexedSeq[Set[String]] = corpus.map(_.source_text.split(" ", -1).toSet)
  private lazy val df: Map[String, Int] =
    docTerms.flatten.groupBy(identity).view.mapValues(_.size).toMap

  /** Brute-force hybrid answer for one query: lexical leg (shared
    * distinct terms desc, summed document frequency asc, id), cosine leg
    * (score desc, id), reciprocal-rank fusion with constant 60. */
  private def expectedRows(q: Query): Seq[(String, Long, Long, Long, Double, Double, Long)] = {
    val terms = q.text.split(" ", -1).toSet
    val others = corpus.indices.filter(d => corpus(d).id != q.id)
    val lex = others.flatMap { d =>
      val shared = terms intersect docTerms(d)
      if (shared.isEmpty) None else Some((corpus(d).id, shared.size.toLong, shared.toSeq.map(df).sum.toLong))
    }.sortBy { case (id, n, s) => (-n, s, id) }.take(Depth)
    val vec = others.map(d => (corpus(d).id, Expect.cosine6(q.vec, corpus(d).vector)))
      .sortBy { case (id, s) => (-s, id) }.take(Depth)
    val lexRank = lex.zipWithIndex.map { case ((id, n, _), r) => id -> (r + 1L, n) }.toMap
    val vecRank = vec.zipWithIndex.map { case ((id, s), r) => id -> (r + 1L, s) }.toMap
    (lexRank.keySet ++ vecRank.keySet).toSeq.map { id =>
      val l = lexRank.get(id); val v = vecRank.get(id)
      val rrf = Expect.round6(l.map(x => 1.0 / (60 + x._1)).getOrElse(0.0) + v.map(x => 1.0 / (60 + x._1)).getOrElse(0.0))
      (id, l.map(_._2).getOrElse(0L), l.map(_._1).getOrElse(0L), v.map(_._1).getOrElse(0L),
        v.map(_._2).getOrElse(0.0), rrf)
    }.sortBy { case (id, _, _, _, _, rrf) => (-rrf, id) }.take(K).zipWithIndex.map {
      case ((id, n, rl, rv, cs, rrf), r) => (id, n, rl, rv, cs, rrf, r + 1L)
    }
  }

  private def verify(b: Int, got: Seq[Row]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    batches(b).foreach { q =>
      val mine = got.filter(_.getString(0) == q.id).map(r =>
        (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6), r.getLong(7)))
      if (mine.map(_._7) != (1L to mine.length.toLong)) errs += s"retrieve query ${q.id}: ranks are not 1..k"
      if (mine.map(_._6).sliding(2).exists(p => p.length == 2 && p(1) > p(0)))
        errs += s"retrieve query ${q.id}: fused scores increase with rank"
      if (mine.exists(_._1 == q.id)) errs += s"retrieve query ${q.id}: self-match returned"
      if (mine != expectedRows(q)) errs += s"retrieve query ${q.id}: differs from the brute-force hybrid answer"
    }
    errs.result().distinct
  }

  def traceOp(i: Int, tr: Tracer): Unit = {
    val b = i % roundSize
    val q = queryDfs(b)
    val bm25 = tr.span(i, "operators.Similarity.bm25") {
      Similarity.bm25TopK(q, corpusDf, "id", "source_text", "query_id", "qtext", k = Depth).collect()
    }
    CacheLedger.releaseAll()
    val cos = tr.span(i, "operators.Similarity.cosine") {
      Similarity.bruteForceTopKExec(q.select(col("query_id").as("id"), col("qvec").as("vector")),
        corpusDf, "id", "vector", Depth).collect()
    }
    // hybridTopK's own lexical leg (shared distinct terms, not BM25):
    // the same call with an empty precomputed cosine leg
    val noVec = spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(Seq(
      StructField("query_id", StringType), StructField("doc_id", StringType), StructField("cos_score", DoubleType))))
    val lex = tr.span(i, "operators.Similarity.lexical") {
      Similarity.hybridTopK(q, corpusDf, "id", "source_text", "vector", "query_id", "qtext", "qvec",
        k = K, depth = Depth, precomputedScoredVec = Some(noVec)).collect()
    }
    CacheLedger.releaseAll()
    tr.layers.add("operators.Similarity.bm25_ms", bm25)
    tr.layers.add("operators.Similarity.lexical_ms", lex)
    tr.layers.add("operators.Similarity.cosine_ms", cos)
    tr.prefixMs = lex + cos
  }

  override def traceAfterOp(i: Int, tr: Tracer): Unit = {
    tr.layers.add("operators.Similarity.fuse_ms", tr.lastOpMs - tr.prefixMs)
    tr.layers.add("operators.Similarity.pairs_scored", Plans.nestedLoopRows(lastDf).toDouble)
  }

  override def traceOnce(tr: Tracer): Unit =
    tr.layers.add("sinks.bytes_per_vector", dirBytes(corpusDir).toDouble / CorpusSize)

  def finish(): Seq[String] = {
    val (b, rows) = verified.head
    val good = verify(b, rows)
    val i = rows.indexWhere(_.getLong(7) == 1L)
    val swapped = rows.updated(i, rows(i + 1)).updated(i + 1, rows(i))
    val swappedRanks = swapped.zipWithIndex.map { case (r, j) =>
      if (j == i || j == i + 1) Row.fromSeq(r.toSeq.updated(7, rows(j).getLong(7))) else r }
    good ++ mutationErrors("two ranks swapped", verify(b, swappedRanks))
  }
}

object Retrieve {
  /** Corpus chunk `i`: 120-199 Zipf words, embedded at the ingest width. */
  def chunk(seed: Long, vocab: Vocab, i: Int): VectorRecord = {
    val rng = new Rng(seed * 7919L + i)
    val text = (0 until 120 + rng.nextInt(80)).map(_ => vocab.draw(rng)).mkString(" ")
    VectorRecord(graft.core.Uuid5.ofParts("corpus", seed, i), text, f"doc${i / 8}%04d.txt",
      new HashEmbedder(Workloads.Width).embedOne(text))
  }
}
