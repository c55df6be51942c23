package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.pipeline.StandIn
import graft.sources.{StubJetStream, StubStream}
import graft.streaming.StreamingEnrich

/** enrich_stream: the paper's own path. `StreamingEnrich.runNats`
  * (parse → Enrich → (uri, cid) watermark dedup → NatsSink) over the
  * stub-nats source, with the engine's default trigger (1 s processing
  * time) and admission (100 rows per micro-batch).
  *
  * Load is an open loop: one generator thread publishes seeded
  * `documents` texts as posts on a fixed schedule at `Rate`, below the
  * path's capacity; each post's `created_at` is its due time, so the
  * watermark advances. 3% of posts are redelivered (same uri:cid) up to
  * two seconds later and 1% are malformed JSON. The steady phase lasts
  * `WarmInS` plus the run length, and only posts due after the warm-in
  * are timed; after it one burst backlog is published at once and
  * drained. It loads `sources`, `streaming` and `pipeline`, and leaves
  * `operators` idle.
  */
object EnrichStream {
  /** Offered posts/s in the steady phase: inside the reference pod's
    * 20-40 posts/s band, and low enough that a micro-batch of them ends
    * well inside the 1 s trigger interval. At 40/s a batch took 0.9-1.2 s,
    * so runs flipped between trigger-paced and back-to-back batches. */
  val Rate = 25.0
  val RedeliveryShare = 0.03
  val MalformedShare = 0.01
  /** Seconds of steady load before posts are timed: the first batches
    * of a new query are its slowest. */
  val WarmInS = 3
  /** Burst size per second of run length: about four micro-batches of
    * the default 100-row admission at the default run length. */
  val BurstPerSecond = 40
  val WarmPosts = 40
  val Setups = 3
  val Subject = "bluesky.posts.new"

  final case class Post(uri: String, cid: String, text: String, json: String,
      malformed: Boolean)
  /** One publish: `dueMs` is when the schedule says it is sent. */
  final case class Send(post: Post, dueMs: Long, redelivery: Boolean)

  def jsonPost(uri: String, cid: String, text: String, createdMs: Long): String =
    Json.obj(Map("uri" -> uri, "cid" -> cid, "author" -> "did:plc:perfbench",
      "text" -> text, "created_at" -> java.time.Instant.ofEpochMilli(createdMs).toString))

  /** Posts n0 until n0+count, due every `gapMs` from `t0` (all at `t0`
    * for a burst), each followed by its redelivery where drawn. */
  def schedule(rnd: Random, texts: IndexedSeq[String], n0: Int, count: Int,
      t0: Long, gapMs: Double): Seq[Send] = {
    val sends = (n0 until n0 + count).flatMap { n =>
      val due = t0 + ((n - n0) * gapMs).toLong
      val uri = s"at://did:plc:perfbench/app.bsky.feed.post/$n"
      val cid = f"bafy$n%08d"
      val text = texts(rnd.nextInt(texts.size))
      val post =
        if (rnd.nextDouble() < MalformedShare)
          Post(uri, cid, text, jsonPost(uri, cid, text, due).dropRight(2), malformed = true)
        else Post(uri, cid, text, jsonPost(uri, cid, text, due), malformed = false)
      val first = Send(post, due, redelivery = false)
      if (!post.malformed && rnd.nextDouble() < RedeliveryShare)
        Seq(first, Send(post, due + (if (gapMs == 0) 0 else 200 + rnd.nextInt(1800)),
          redelivery = true))
      else Seq(first)
    }
    sends.sortBy(_.dueMs)
  }

  /** The gate's reference: the subject a well-formed post is published
    * under, or None when the StandIn sentiment gate drops it. */
  def expectedSubject(text: String): Option[String] =
    if (text.trim.isEmpty) None
    else {
      val (label, conf, _) = StandIn.sentiment(text)
      if (conf < StandIn.SentimentThreshold) None
      else Some(s"bluesky.enriched.$label.${StandIn.topics(text)._2}")
    }

  /** Every progress event of the benchmark's queries, in arrival order
    * (`query.recentProgress` keeps only the last 100). */
  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.runId == q.runId).toSeq
  }

  /** One running pipeline: its input and output streams and query.
    * The source acks a batch only when the next one is planned, so
    * progress is read from the query's progress events, not the
    * consumer's ack floor. */
  final case class Pipe(in: StubStream, out: String, query: StreamingQuery,
      prog: Progress) {
    /** Input rows per second over the batches that read past `seq`,
      * from the first such batch's start to the last one's end — the
      * drain rate, free of where in the trigger cycle the backlog
      * landed. */
    def drainRate(seq: Long): Double = {
      val bs = prog.of(query).filter(p => p.numInputRows > 0 &&
        p.sources.head.endOffset.toLong > seq)
      val start = java.time.Instant.parse(bs.head.timestamp).toEpochMilli
      val end = bs.map(p => java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration).max
      bs.map(_.numInputRows).sum * 1000.0 / (end - start)
    }

    /** Wall time (ms) at which the batch that read up to `seq` ended. */
    def endOf(seq: Long): Option[Long] = prog.of(query).find(p =>
        p.numInputRows > 0 && p.sources.head.endOffset.toLong >= seq)
      .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli + p.batchDuration)

    /** Wait until everything published so far is processed; returns
      * when the last batch ended. */
    def awaitDrained(timeoutMs: Long): Long = {
      val seq = in.lastSeq
      val end = System.currentTimeMillis() + timeoutMs
      while (endOf(seq).isEmpty && System.currentTimeMillis() < end) {
        query.exception.foreach(e => throw e)
        Thread.sleep(5)
      }
      endOf(seq).getOrElse(throw new IllegalStateException(
        s"input not drained in ${timeoutMs / 1000} s: ${query.lastProgress}"))
    }
  }

  def input(tag: String): StubStream =
    StubJetStream.ensure(s"perfbench-posts-$tag", Seq("bluesky.posts.>"))

  def start(spark: SparkSession, tag: String, ckpt: File, prog: Progress): Pipe = {
    val in = input(tag)
    val raw = spark.readStream.format("stub-nats")
      .option("stream", in.name).option("subject", "bluesky.posts.>").load()
      .select("value")
    val out = s"perfbench-enriched-$tag"
    Pipe(in, out, StreamingEnrich.runNats(spark, raw,
      new File(ckpt, tag).getAbsolutePath, out), prog)
  }

  /** Publish `sends` on schedule from the calling thread, with a span
    * around each publish `traced` selects. Returns each publish call's
    * duration (ns) and how late the generator ran (ms). */
  def publish(in: StubStream, sends: Seq[Send], tr: Trace = new Trace(false),
      traced: Send => Boolean = _ => false): (Seq[Long], Seq[Long]) = {
    val callNs = new Array[Long](sends.size)
    val lateMs = new Array[Long](sends.size)
    var i = 0
    for (s <- sends) {
      var now = System.currentTimeMillis()
      while (now < s.dueMs) { Thread.sleep(math.min(s.dueMs - now, 5)); now = System.currentTimeMillis() }
      lateMs(i) = now - s.dueMs
      val t = System.nanoTime()
      if (traced(s)) tr.span("StubStream.publish", s.post.cid)(publishOne(in, s))
      else publishOne(in, s)
      callNs(i) = System.nanoTime() - t
      i += 1
    }
    (callNs.toSeq, lateMs.toSeq)
  }

  private def publishOne(in: StubStream, s: Send): Unit =
    in.publish(Subject, s.post.json, s"delivery-${s.post.cid}-${s.redelivery}")

  /** Publish a warm-up batch and start a pipeline on it; the time to
    * the end of the batch that processed it is the set-up time. The
    * posts are in the stream before the query starts, so its first
    * batch reads them all, wherever the trigger clock stands. */
  def setup(spark: SparkSession, tag: String, ckpt: File, prog: Progress,
      rnd: Random, texts: IndexedSeq[String]): (Pipe, Double, Seq[Send]) = {
    val t0 = System.currentTimeMillis()
    val warm = schedule(rnd, texts, 0, WarmPosts, t0, 0)
    publish(input(tag), warm)
    val p = start(spark, tag, ckpt, prog)
    (p, (p.awaitDrained(120000) - t0) / 1000.0, warm)
  }

  def run(ctx: Main.Ctx): Main.Result = {
    val spark = ctx.spark
    val texts = ctx.documents.orderBy("doc_id").select("text").collect()
      .map(_.getString(0)).toIndexedSeq
    val rnd = new Random(ctx.seed)
    val prog = new Progress
    spark.streams.addListener(prog)
    val ckpt = ctx.dir("checkpoints")

    // set up several times; the last pipeline carries the measurement
    val setups = (0 until Setups).map { i =>
      val r = setup(spark, s"s$i", ckpt, prog, rnd, texts)
      if (i < Setups - 1) r._1.query.stop()
      Main.log(f"setup $i: ${r._2}%.2f s")
      r
    }
    val (pipe, _, warm) = setups.last

    // steady phase, then one burst drained
    HeapPeak.reset()
    val nSteady = ((WarmInS + ctx.seconds) * Rate).toInt
    val tSteady = System.currentTimeMillis() + 100
    val steady = schedule(rnd, texts, WarmPosts, nSteady, tSteady, 1000 / Rate)
    val timed = steady.filter(_.dueMs >= tSteady + WarmInS * 1000)
    // traced runs trace the posts due in every other second, so traced
    // and untraced posts share the run's drift (trace.overhead_ms)
    def tracedSend(s: Send) = ctx.trace && ((s.dueMs - tSteady) / 1000) % 2 == 1
    val tr = new Trace(ctx.trace)
    val (steadyCallNs, lateMs) = publish(pipe.in, steady, tr, tracedSend)
    val burstSeq = pipe.in.lastSeq
    val tBurst = System.currentTimeMillis()
    val burst = schedule(rnd, texts, WarmPosts + nSteady, ctx.seconds * BurstPerSecond,
      tBurst, 0)
    publish(pipe.in, burst)
    val drainS = (pipe.awaitDrained(120000) - tBurst) / 1000.0
    val drainRate = pipe.drainRate(burstSeq)
    val heapMb = HeapPeak.mb
    pipe.query.stop()
    Main.log(f"measured: ${steady.size} steady sends, ${burst.size} burst sends drained in $drainS%.2f s")

    // gates
    val sends = warm ++ steady ++ burst
    val posts = sends.map(_.post).distinct
    val wellFormed = posts.filterNot(_.malformed)
    val expected = wellFormed.flatMap(p => expectedSubject(p.text).map(s"${p.uri}:${p.cid}" -> _)).toMap
    val outStream = StubJetStream.info(pipe.out).get
    val out = outStream.allMessages
    val got = out.map(m => m.msgId -> m.subject).toMap
    val publishedWellFormed = wellFormed.count(p => got.contains(s"${p.uri}:${p.cid}"))
    val missing = (expected.keySet -- got.keySet).size
    val extra = (got.keySet -- expected.keySet).size
    val wrongSubject = expected.count { case (id, s) => got.get(id).exists(_ != s) }
    val dupIds = out.size - got.size + outStream.duplicateTotal.sum.toInt
    val injected = posts.count(_.malformed)
    val poison = prog.of(pipe.query).flatMap(p => Option(p.observedMetrics.get("graft_parse")))
      .map(_.getAs[Long]("poison_total")).sum
    val failed = missing + extra + wrongSubject + dupIds + math.abs(poison - injected).toInt
    if (failed > 0) System.err.println(s"gate: missing=$missing extra=$extra " +
      s"wrong_subject=$wrongSubject duplicate_ids=$dupIds poison=$poison injected=$injected")

    // per-post latency: scheduled send time to publish on the output
    val publishedAt = out.map(m => m.msgId -> m.publishedAtMs).toMap
    def latencies(ss: Seq[Send]) = ss.filterNot(_.redelivery)
      .flatMap(s => publishedAt.get(s"${s.post.uri}:${s.post.cid}").map(t => (t - s.dueMs).toDouble))
    val lat = latencies(timed)
    val info = Map("steady_posts" -> nSteady, "burst_sends" -> burst.size,
      "latency_samples" -> lat.size, "tail_quantile" -> Stats.Tail,
      "generator_late_ms_max" -> lateMs.max, "generator_late_ms_p50" -> Stats.median(lateMs.map(_.toDouble)),
      "published" -> out.size, "malformed" -> injected, "poison_total" -> poison,
      "setup_s" -> setups.map(_._2), "burst_drain_s" -> drainS,
      "batch_ms" -> prog.of(pipe.query).filter(_.numInputRows > 0)
        .map(_.durationMs.get("triggerExecution").longValue))
    val metrics =
      if (!ctx.trace) Seq(
        ("setup_s", Stats.median(setups.map(_._2)), "s"),
        ("latency_p50_ms", Stats.hd(lat, 0.5), "ms"),
        ("latency_tail_ms", Stats.hd(lat, Stats.Tail), "ms"),
        ("throughput_per_s", drainRate, "1/s"),
        // every workload reports every end-to-end metric; a stream has
        // no top-10, so this is the share of expected posts delivered,
        // 1.0 whenever the gate passes (README: recall_at_10)
        ("recall_at_10", (expected.size - missing).toDouble / expected.size, "ratio"))
      else layers(ctx, prog.of(pipe.query), timed.partition(tracedSend), latencies _,
        steadyCallNs, wellFormed, publishedWellFormed, texts) :+ (("jvm.heap_peak_mb", heapMb, "MB"))
    Main.Result(attempted = posts.size, failed = failed, metrics = metrics, info = info,
      spans = tr.spans)
  }

  private def layers(ctx: Main.Ctx, ps: Seq[StreamingQueryProgress],
      tracedSplit: (Seq[Send], Seq[Send]), latencies: Seq[Send] => Seq[Double], callNs: Seq[Long],
      wellFormed: Seq[Post], published: Int,
      texts: IndexedSeq[String]): Seq[(String, Double, String)] = {
    val spark = ctx.spark
    val data = ps.filter(_.numInputRows > 0)
    def d(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def med(f: StreamingQueryProgress => Double) =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    val state = data.flatMap(_.stateOperators.headOption)
    val backlog = ps.flatMap(p => p.sources.headOption.flatMap(s =>
      Option(s.metrics).flatMap(m => Option(m.get("numPending"))))).map(_.toDouble)

    // pipeline: the enrichment over a static frame of the same posts,
    // and the stand-in models alone
    import spark.implicits._
    val frame = wellFormed.map(_.json).toDF("value")
    def enrichOnce(): Double = {
      val t = System.nanoTime()
      StreamingEnrich.enrich(StreamingEnrich.parse(frame)).write.format("noop")
        .mode("overwrite").save()
      (System.nanoTime() - t) / 1e3 / wellFormed.size
    }
    enrichOnce()
    val enrichUs = Stats.median(Seq.fill(3)(enrichOnce()))
    def perPostUs(f: String => Any): Double = {
      val ts = wellFormed.map(_.text)
      ts.foreach(f)
      val t = System.nanoTime()
      for (_ <- 0 until 5; x <- ts) f(x)
      (System.nanoTime() - t) / 1e3 / (5 * ts.size)
    }
    val sentUs = perPostUs(StandIn.sentiment)
    val topicUs = perPostUs(StandIn.topics)

    // trace overhead: posts published under a span against the rest
    val (lb, la) = (latencies(tracedSplit._1), latencies(tracedSplit._2))
    val overhead = Stats.median(lb) - Stats.median(la)
    val singleCore = singleCorePostsPerS(ctx, texts)
    Seq(
      // whole ms per batch and mostly 0 for the in-memory stub, so a mean
      ("sources.offset_ms", if (data.isEmpty) 0.0
        else data.map(p => d(p, "latestOffset") + d(p, "getBatch")).sum / data.size, "ms"),
      ("sources.backlog_max", if (backlog.isEmpty) 0.0 else backlog.max, "count"),
      ("sources.publish_us", Stats.median(callNs.map(_ / 1e3)), "us"),
      ("streaming.trigger_ms", med(p => d(p, "triggerExecution")), "ms"),
      ("streaming.planning_ms", med(p => d(p, "queryPlanning")), "ms"),
      ("streaming.commit_ms", med(p => d(p, "walCommit") + d(p, "commitOffsets")), "ms"),
      ("streaming.addbatch_ms", med(p => d(p, "addBatch")), "ms"),
      ("streaming.rows_per_batch", med(_.numInputRows.toDouble), "count"),
      ("streaming.state_rows", state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      ("streaming.state_bytes", state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("streaming.state_commit_ms",
        if (state.isEmpty) 0.0 else Stats.median(state.map(_.commitTimeMs.toDouble)), "ms"),
      ("pipeline.enrich_us_per_post", enrichUs, "us"),
      ("pipeline.sentiment_us_per_post", sentUs, "us"),
      ("pipeline.topic_us_per_post", topicUs, "us"),
      ("pipeline.gate_pass_share", published.toDouble / wellFormed.size, "ratio"),
      ("pipeline.single_core_posts_per_s", singleCore, "1/s"),
      ("trace.overhead_ms", overhead, "ms"),
      ("trace.overhead_share", overhead / Stats.median(la), "ratio"))
  }

  /** Single-core baseline: the same burst drained on local[1], in a
    * fresh session of this JVM. */
  def singleCorePostsPerS(ctx: Main.Ctx, texts: IndexedSeq[String]): Double = {
    ctx.spark.stop()
    val one = Main.session(1, ctx.dir("single"))
    try {
      val rnd = new Random(ctx.seed)
      val prog = new Progress
      one.streams.addListener(prog)
      val (p, _, _) = setup(one, "single", ctx.dir("single-ckpt"), prog, rnd, texts)
      val seq = p.in.lastSeq
      publish(p.in, schedule(rnd, texts, WarmPosts, ctx.seconds * BurstPerSecond,
        System.currentTimeMillis(), 0))
      p.awaitDrained(120000)
      val rate = p.drainRate(seq)
      p.query.stop()
      rate
    } finally one.stop()
  }
}
