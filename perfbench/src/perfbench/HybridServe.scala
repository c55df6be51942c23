package perfbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, HybridRetrieval, KnnGraphIndex, LexIndex, Par}

/** hybrid_serve: one client, closed loop, one request at a time against
  * lex, ANN and k-NN graph indexes built over a base slice and then
  * grown by a few uncompacted appends — the state served between
  * compactions. It loads the `operators` read paths; a write-path
  * change that costs reads shows here and nowhere else.
  *
  * Corpus: documents 0..999 paired with the embedding of the same id
  * (base 0..899, then one append of 900..999).
  *
  * The mix follows the repo's own serve inventory (`graft.queries`):
  * of its 38 queries that read a maintained index, 16 read the lex
  * index alone, 6 the ANN index alone, 6 the k-NN graph and 10 fuse a
  * lex and a vector list with `rrfFuse`. A block of seven keeps those
  * shares (3 : 1 : 1 : 2); its lex requests are one short keyword and
  * two long doc-text queries. Blocks are served whole, in seeded order,
  * so every run's composition is the same. */
object HybridServe {
  val BaseDocs = 900
  val AppendBatches = 1
  val AppendSize = 100
  val CorpusDocs = BaseDocs + AppendBatches * AppendSize
  val K = 10
  /** Candidates per side of a hybrid request (HybridQueries' serve shape). */
  val KEach = 20
  /** One block: 0 short lex, 1 long lex, 2 ANN, 3 graph, 4 hybrid. */
  val Block = List(0, 1, 1, 2, 3, 4, 4)
  /** Blocks a run serves at least, whatever its length: 14 requests. */
  val MinBlocks = 2

  sealed trait Req { def id: Int; def kind: String }
  final case class LexReq(id: Int, text: String, long: Boolean) extends Req {
    def kind: String = if (long) "lex_long" else "lex_short"
  }
  final case class AnnReq(id: Int, q: Long) extends Req { def kind = "ann" }
  final case class GraphReq(id: Int, q: Long) extends Req { def kind = "graph" }
  final case class HybridReq(id: Int, q: Long, text: String) extends Req {
    def kind = "hybrid"
  }

  final case class Names(lex: String, ann: String, graph: String)

  /** The timed set-up: base builds of the three families (overlapped,
    * as the nightly loop's base builds are), then the appends. */
  def setup(spark: SparkSession, tag: String, docs: DataFrame,
      vecs: DataFrame): Names = {
    val n = Names(s"${tag}_lex", s"${tag}_ann", s"${tag}_graph")
    val baseDocs = docs.filter(col("doc_id") < BaseDocs)
    val baseVecs = vecs.filter(col("vec_id") < BaseDocs)
    Par.run(spark, Seq(
      () => LexIndex.writeLexIndex(baseDocs, n.lex),
      () => AnnIndex.writeAnnIndex(baseVecs, n.ann),
      () => KnnGraphIndex.writeKnnGraph(baseVecs, n.graph)))
    for (b <- 0 until AppendBatches) {
      val lo = BaseDocs + b * AppendSize
      Par.run(spark, Seq(
        () => LexIndex.appendToLexIndex(
          docs.filter(col("doc_id").between(lo, lo + AppendSize - 1)),
          n.lex, s"append-$b"),
        () => AnnIndex.appendToAnnIndex(
          vecs.filter(col("vec_id").between(lo, lo + AppendSize - 1)), n.ann),
        () => KnnGraphIndex.appendToKnnGraph(
          vecs.filter(col("vec_id").between(lo, lo + AppendSize - 1)), n.graph)))
    }
    n
  }

  /** Term counts of the documents whose text is a long query: the
    * middle of the corpus's 10-100, so a seed changes which documents
    * are asked, not how long the queries are. */
  val LongTerms = 40 to 60

  /** The seeded request mix, block by block; short keyword queries
    * take 2-4 terms from the corpus vocabulary. */
  def requests(seed: Long, texts: Map[Long, String], count: Int): IndexedSeq[Req] = {
    val rnd = new Random(seed)
    val vocab = texts.values.flatMap(_.split(" ")).toSeq.distinct.sorted
    val long = texts.toSeq.sorted.collect {
      case (id, t) if LongTerms.contains(t.split(" ").length) => id }
    val kinds = Iterator.continually(rnd.shuffle(Block)).flatten
    (0 until count).map { i =>
      val q = rnd.nextInt(CorpusDocs).toLong
      val ql = long(rnd.nextInt(long.size))
      kinds.next() match {
        case 0 => LexReq(i, Seq.fill(2 + rnd.nextInt(3))(
          vocab(rnd.nextInt(vocab.size))).mkString(" "), long = false)
        case 1 => LexReq(i, texts(ql), long = true)
        case 2 => AnnReq(i, q)
        case 3 => GraphReq(i, q)
        case _ => HybridReq(i, ql, texts(ql))
      }
    }
  }

  def lexProbe(spark: SparkSession, index: String, queries: Seq[(Long, String)],
      k: Int): DataFrame = {
    import spark.implicits._
    LexIndex.probeLexIndexMaxScore(spark, index, queries.toDF("doc_id", "text"), kEach = k)
  }

  def annProbe(spark: SparkSession, index: String, corpus: DataFrame,
      q: Long, k: Int): DataFrame =
    AnnIndex.probeAnnIndex(spark, index, corpus, col("vec_id") === q, k = k)
      .select(col("qid"), col("vec_id").as("doc_id"), col("rank").as("vec_rank"))

  /** Serve one request; returns its ranked doc ids (for lex requests,
    * with their integer scores, the equality the gate checks). */
  def serve(spark: SparkSession, n: Names, corpus: DataFrame, r: Req,
      tr: Trace): Seq[(Long, Long)] = {
    val id = r.id.toString
    def collect(df: DataFrame, cols: String*): Seq[(Long, Long)] =
      tr.span("collect", id)(df.select(cols.map(col): _*).collect().toSeq
        .map(x => (x.getLong(0), if (cols.size > 1) x.getLong(1) else 0L)))
    tr.span(s"request.${r.kind}", id) {
      r match {
        case LexReq(_, text, _) =>
          val df = tr.span("LexIndex.probeLexIndexMaxScore", id)(
            lexProbe(spark, n.lex, Seq((r.id.toLong, text)), K))
          collect(df, "doc_id", "lex_scaled").sortBy(x => (-x._2, x._1))
        case AnnReq(_, q) =>
          val df = tr.span("AnnIndex.probeAnnIndex", id)(
            annProbe(spark, n.ann, corpus, q, K))
          collect(df.orderBy("vec_rank"), "doc_id")
        case GraphReq(_, q) =>
          val df = tr.span("KnnGraphIndex.probeKnnGraph", id)(
            KnnGraphIndex.probeKnnGraph(spark, n.graph, col("qid") === q))
          collect(df.orderBy("rank"), "vec_id")
        case HybridReq(_, q, text) =>
          val lex = tr.span("LexIndex.probeLexIndexMaxScore", id)(
            lexProbe(spark, n.lex, Seq((q, text)), KEach))
          val vec = tr.span("AnnIndex.probeAnnIndex", id)(
            annProbe(spark, n.ann, corpus, q, KEach))
          val fused = tr.span("HybridRetrieval.rrfFuse", id)(
            HybridRetrieval.rrfFuse(lex, vec, K))
          collect(fused.orderBy("rank"), "doc_id")
      }
    }
  }

  final case class Served(req: Req, ms: Double, out: Option[Seq[(Long, Long)]],
      traced: Boolean)

  /** Closed loop over `reqs` until `seconds` elapse and the current
    * block is complete, and at least `MinBlocks` blocks. With `log`,
    * every other block is traced
    * — spans on, Spark's listener events recorded — so traced and
    * untraced requests share the run's warm-up drift and the
    * difference between them is the tracing overhead. Returns the
    * served requests and the seconds until the last one completed. */
  def loop(spark: SparkSession, n: Names, corpus: DataFrame, reqs: Seq[Req],
      seconds: Double, tr: Trace, log: Option[JobLog]): (Seq[Served], Double) = {
    val sc = spark.sparkContext
    val off = new Trace(false)
    val out = Seq.newBuilder[Served]
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val it = reqs.iterator
    var i = 0
    val b = Block.size
    while (it.hasNext && (System.nanoTime() < end || i % b != 0 || i < MinBlocks * b)) {
      val on = log.isDefined && (i / b) % 2 == 1
      if (on && i % b == 0) sc.addSparkListener(log.get)
      val r = it.next()
      val s = System.nanoTime()
      val res = try Some(serve(spark, n, corpus, r, if (on) tr else off)) catch {
        case e: Exception =>
          System.err.println(s"request ${r.id} (${r.kind}) failed: $e"); None
      }
      out += Served(r, Stats.ms(System.nanoTime() - s), res, on)
      i += 1
      if (on && i % b == 0) { log.get.drain(sc); sc.removeSparkListener(log.get) }
    }
    (out.result(), (System.nanoTime() - t0) / 1e9)
  }

  /** Recall queries: every 10th vector, a fixed set. The served
    * state does not depend on the seed, so recall is a property of the
    * program, not of a draw. */
  val RecallEvery = 10

  /** Mean recall@10 of the ANN index against exact vector top-10. */
  def annRecall(spark: SparkSession, n: Names, corpus: DataFrame, dim: Int): Double = {
    val q = col("vec_id") % RecallEvery === 0
    def sets(df: DataFrame) = df.collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    val exact = sets(HybridRetrieval.exactVecTopK(corpus, q, dim, K).select("qid", "doc_id"))
    val ann = sets(AnnIndex.probeAnnIndex(spark, n.ann, corpus, q, k = K)
      .select("qid", "vec_id"))
    exact.toSeq.map { case (id, e) => (ann.getOrElse(id, Set.empty) & e).size.toDouble / e.size }
      .sum / exact.size
  }

  /** Mean recall@10 of the served hybrid requests against the fusion of
    * the exact lex (from-scratch index) and exact vector lists. */
  def hybridRecall(spark: SparkSession, refLex: String, corpus: DataFrame, dim: Int,
      served: Seq[(HybridReq, Seq[Long])]): Double = {
    if (served.isEmpty) return 0.0
    val qs = served.map(_._1).distinctBy(_.q)
    val ref = HybridRetrieval.rrfFuse(
        lexProbe(spark, refLex, qs.map(r => (r.q, r.text)), KEach),
        HybridRetrieval.exactVecTopK(corpus, col("vec_id").isin(qs.map(_.q): _*), dim, KEach), K)
      .select("qid", "doc_id").collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)).toSet }
    served.map { case (r, out) =>
      val e = ref.getOrElse(r.q, Set.empty[Long])
      out.count(e).toDouble / math.max(1, e.size)
    }.sum / served.size
  }

  def run(ctx: Main.Ctx): Main.Result = {
    val spark = ctx.spark
    val docs = ctx.documents.filter(col("doc_id") < CorpusDocs).select("doc_id", "text")
    val corpus = ctx.embeddings.filter(col("vec_id") < CorpusDocs)
      .select("vec_id", "embedding")
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    Main.log("inputs")

    // the set-up runs once: one build of three families costs more than
    // the measured window (README: setup_s)
    val log = if (ctx.trace) Some(new JobLog) else None
    log.foreach(spark.sparkContext.addSparkListener)
    val t0 = System.nanoTime()
    val w0 = System.currentTimeMillis()
    val names = setup(spark, "hs", docs, corpus)
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupSpan = Trace.Span(0, 0, "setup", "setup", w0, t0, t0 + (setupS * 1e9).toLong)
    log.foreach { l => l.drain(spark.sparkContext); spark.sparkContext.removeSparkListener(l) }
    Main.log("setup")
    // untimed reference: a from-scratch lex index over the final corpus
    // and, beside it, one untimed block of requests as warm-up
    val off = new Trace(false)
    Par.run(spark, Seq(
      () => LexIndex.writeLexIndex(docs, "hs_ref_lex"),
      () => requests(ctx.seed ^ 0x5eedL, texts, Block.size)
        .foreach(serve(spark, names, corpus, _, off))))
    Main.log("warm-up")

    HeapPeak.reset()
    val tr = new Trace(ctx.trace)
    val (all, measured) = loop(spark, names, corpus, requests(ctx.seed, texts, 100000),
      ctx.seconds, tr, log)
    val heapMb = HeapPeak.mb
    Main.log(s"measured ${all.size} requests")

    // gate: every lex result equals the same probe against the
    // from-scratch index
    val lexReqs = all.collect { case Served(r: LexReq, _, Some(out), _) => r -> out }
    val expected = lexProbe(spark, "hs_ref_lex",
        lexReqs.map(_._1).distinct.map(r => (r.id.toLong, r.text)), K)
      .select("qid", "doc_id", "lex_scaled").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(x => (-x._2, x._1)) }
    val lexBad = lexReqs.count { case (r, out) =>
      expected.getOrElse(r.id.toLong, Nil) != out }
    val errors = all.count(_.out.isEmpty)
    Main.log("lex gate")
    val recall = annRecall(spark, names, corpus, dim)
    Main.log("checked")

    val lat = all.map(_.ms)
    val metrics =
      if (!ctx.trace) Seq(
        ("setup_s", setupS, "s"),
        ("latency_p50_ms", Stats.hd(lat, 0.5), "ms"),
        ("latency_tail_ms", Stats.hd(lat, Stats.Tail), "ms"),
        ("throughput_per_s", all.size / measured, "1/s"),
        ("recall_at_10", recall, "ratio"))
      else {
        val jl = log.get
        val setupJobs = jl.jobsIn(setupSpan.startMs, setupSpan.endMs)
        val appends = Families.Appends.map { case (metric, _) =>
          val iv = setupJobs.collect { case (j, _) if Families.first(j.details, Families.Appends)
              .contains(metric) => (j.startMs.toDouble, j.endMs.toDouble) }
          (metric, Trace.covered(iv, setupSpan.startMs, setupSpan.endMs) / AppendBatches, "ms")
        }
        val hyb = all.collect { case Served(r: HybridReq, _, Some(o), _) => r -> o.map(_._1) }
        appends ++ layers(jl, tr, all) ++ Seq(
          ("operators.HybridRetrieval.recall_at_10",
            hybridRecall(spark, "hs_ref_lex", corpus, dim, hyb), "ratio"),
          ("jvm.heap_peak_mb", heapMb, "MB"))
      }
    Main.Result(attempted = all.size, failed = lexBad + errors, metrics = metrics,
      info = Map("requests" -> all.size, "tail_quantile" -> Stats.Tail,
        "setup_s" -> setupS, "lex_checked" -> lexReqs.size,
        "lex_mismatch" -> lexBad, "errors" -> errors,
        // serve order: kind, query terms (lex and hybrid), latency ms
        "served" -> all.map { x =>
          val terms = x.req match {
            case LexReq(_, t, _) => t.split(" ").length
            case HybridReq(_, _, t) => t.split(" ").length
            case _ => 0
          }
          Seq(x.req.kind, terms, math.round(x.ms))
        }),
      spans = tr.spans)
  }

  private def layers(log: JobLog, tr: Trace,
      served: Seq[Served]): Seq[(String, Double, String)] = {
    val spans = tr.spans
    val roots = spans.filter(_.parent == 0)
    val byReq = spans.groupBy(_.req)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def kindMs(k: String) = med(roots.filter(_.name == s"request.$k").map(_.ms))
    val fuseSelf = roots.filter(_.name == "request.hybrid").map { r =>
      r.ms - byReq(r.req).filter(s => s.name == "LexIndex.probeLexIndexMaxScore" ||
        s.name == "AnnIndex.probeAnnIndex").map(_.ms).sum
    }
    val js = roots.map(JobLog.forSpan(log, _))
    val p50a = med(served.filterNot(_.traced).map(_.ms))
    val p50b = med(served.filter(_.traced).map(_.ms))
    Seq(
      ("operators.LexIndex.probe_ms",
        med(roots.filter(_.name.startsWith("request.lex")).map(_.ms)), "ms"),
      ("operators.AnnIndex.probe_ms", kindMs("ann"), "ms"),
      ("operators.KnnGraphIndex.probe_ms", kindMs("graph"), "ms"),
      ("operators.HybridRetrieval.fuse_ms", med(fuseSelf), "ms"),
      ("operators.jobs_per_query", med(js.map(_.jobs.toDouble)), "count"),
      ("operators.tasks_per_query", med(js.map(_.tasks.toDouble)), "count"),
      ("operators.bytes_read_per_query", med(js.map(_.bytesRead.toDouble)), "bytes"),
      ("operators.driver_gap_ms", med(js.map(_.driverGapMs)), "ms"),
      ("trace.overhead_ms", p50b - p50a, "ms"),
      ("trace.overhead_share", (p50b - p50a) / p50a, "ratio"))
  }
}
