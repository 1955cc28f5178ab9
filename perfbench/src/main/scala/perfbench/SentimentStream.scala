package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.pipeline.Pipelines
import graft.schema.Models
import graft.schema.Models.RedditPost
import graft.sources.Sources
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

/** `sentiment_stream`: the paper's pipeline behind its serving API.
  *
  * A release thread moves pre-written JSON files into the source
  * directory open-loop, [[FilesPerSecond]] files a second, each post
  * stamped with its file's scheduled release time. A `ProcessingTime`
  * query runs `Pipelines.endToEnd` into `Sources.upsertWithTtl`, and one
  * closed-loop reader runs the `/tweets`-shaped read against the same
  * TTL table. After the timed window the source drains, the query stops,
  * and a batch `Pipelines.endToEnd` over every released post is written
  * as the reference that run.py compares the sink with.
  */
object SentimentStream {
  val TriggerMs = 1000L
  val FilesPerSecond = 10
  val WarmupSeconds = 15
  val ThinkMs = 1000L
  val Topics = 50
  val LongShare = 0.2
  val ResendShare = 0.3
  /** Re-sends copy one of this many preceding posts, so some land in the
    * same micro-batch as their original and some in a later one. */
  val ResendWindow = 3000
  val DrainTimeoutMs = 60000L

  final case class Post(topic: String, id: String, author: String, text: String, upvotes: Int)

  private val Neutral = ("the a market team new update people city game today week plan " +
    "report price phone model season deal court vote launch film data").split(' ')
  private val Positive = graft.enrich.Enrich.LexiconScorer.Positive.toSeq.sorted
  private val Negative = graft.enrich.Enrich.LexiconScorer.Negative.toSeq.sorted

  private def sentence(r: scala.util.Random): String =
    Seq.fill(6 + r.nextInt(9)) {
      val x = r.nextDouble()
      if (x < 0.08) Positive(r.nextInt(Positive.size))
      else if (x < 0.15) Negative(r.nextInt(Negative.size))
      else Neutral(r.nextInt(Neutral.length))
    }.mkString(" ") + "."

  /** `n` posts from `seed`: about [[LongShare]] of them longer than the
    * 1024-char router threshold, [[ResendShare]] re-sends of an earlier
    * `(topic, id)`, and one in a hundred blank. */
  def posts(seed: Long, n: Int, prefix: String): IndexedSeq[Post] = {
    val r = new scala.util.Random(seed)
    val out = mutable.ArrayBuffer.empty[Post]
    for (k <- 0 until n) {
      if (k > 0 && r.nextDouble() < ResendShare)
        out += out(k - 1 - r.nextInt(math.min(k, ResendWindow)))
      else {
        val text =
          if (r.nextDouble() < 0.01) "   "
          else if (r.nextDouble() < LongShare) {
            val target = Models.SummaryThreshold + 1 + r.nextInt(800)
            val sb = new StringBuilder
            while (sb.length < target) sb.append(sentence(r)).append(' ')
            sb.toString.trim
          } else Seq.fill(1 + r.nextInt(3))(sentence(r)).mkString(" ")
        out += Post(s"topic${r.nextInt(Topics)}", s"$prefix$k", s"u${r.nextInt(5000)}", text,
          r.nextInt(1000))
      }
    }
    out.toIndexedSeq
  }

  def json(p: Post, createdAtMs: Long): String =
    s"""{"topic":${Json.quote(p.topic)},"subreddit":${Json.quote("r_" + p.topic)},""" +
      s""""author":${Json.quote(p.author)},"post_title":${Json.quote("post " + p.id)},""" +
      s""""post_content":${Json.quote(p.text)},"upvotes":${p.upvotes},""" +
      s""""created_at":"${java.time.Instant.ofEpochMilli(createdAtMs)}","id":${Json.quote(p.id)}}"""

  /** Writes `ps` as one JSON-lines file in `stage`, then moves it into
    * `dir` with an atomic rename, so the source never sees a partial file. */
  def land(ps: Seq[Post], createdAtMs: Long, stage: String, dir: String, name: String): Unit = {
    val tmp = Paths.get(stage, name)
    Files.writeString(tmp, ps.map(json(_, createdAtMs)).mkString("", "\n", "\n"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def rows: Long = events.asScala.map(_.numInputRows).sum
  }

  final case class Lane(spark: SparkSession, query: StreamingQuery, progress: Progress,
      dirs: Map[String, String])

  def run(a: Main.Args): Map[String, Any] = {
    val rate = a.int("rate")
    val tracing = a.trace
    val spans = new Spans(s"${a.workload}-${a.seed}", tracing)
    val commitEnd = new ConcurrentHashMap[Long, Long]()
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val firstBatchMs = mutable.ArrayBuffer.empty[Long]

    def onBatch(table: String)(batch: DataFrame, id: Long): Unit = {
      val spark = batch.sparkSession
      val sc = spark.sparkContext
      val start = System.currentTimeMillis()
      val posts = batch.as[RedditPost](org.apache.spark.sql.Encoders.product[RedditPost])
      if (tracing && id % 2 == 1) {
        // Traced batch: each layer's output is materialized inside its
        // own span, so the layer's time and engine counters are its own.
        val b = s"b$id"
        def layer[T](name: String)(body: => T): T = {
          EngineListener.setUnit(sc, s"$b:$name")
          spans(s"$b:$name", b)(body)
        }
        val (raw, ingested) = layer("ingest") {
          val r = Pipelines.ingest(posts).persist(); (r, r.count())
        }
        val (scored, nScored) = layer("score") {
          val s = Pipelines.score(raw).persist(); (s, s.count())
        }
        EngineListener.setUnit(sc, null) // bookkeeping, not a layer's work
        val counts = scored.agg(
          sum(when(length(coalesce(col("original_text"), col("text"))) > Models.SummaryThreshold, 1)
            .otherwise(0)).as("long"),
          sum(when(col("was_summarized"), 1).otherwise(0)).as("summarized")).head()
        layer("upsert")(Sources.upsertWithTtl(scored.toDF(), table, "content_id"))
        EngineListener.setUnit(sc, null)
        raw.unpersist(); scored.unpersist()
        batches.add(Map("id" -> id, "traced" -> true, "start_ms" -> start,
          "ingested" -> ingested, "scored" -> nScored,
          "long" -> counts.getAs[Long]("long"), "summarized" -> counts.getAs[Long]("summarized")))
      } else {
        EngineListener.setUnit(sc, s"b$id")
        Sources.upsertWithTtl(Pipelines.endToEnd(posts).toDF(), table, "content_id")
        EngineListener.setUnit(sc, null)
        batches.add(Map("id" -> id, "traced" -> false, "start_ms" -> start))
      }
      commitEnd.put(id, System.currentTimeMillis())
    }

    def startLane(i: Int): Lane = {
      val spark = Main.session(a)
      val root = s"${a.work}/stream/setup$i"
      val dirs = Seq("in", "stage", "ckpt", "table").map(d => d -> s"$root/$d").toMap
      Seq("in", "stage").foreach(d => Files.createDirectories(Paths.get(dirs(d))))
      // One small file is in place before the query starts; set-up ends
      // when its micro-batch has committed.
      land(posts(a.seed + 1000 + i, rate / FilesPerSecond, s"w${i}_"), System.currentTimeMillis(),
        dirs("stage"), dirs("in"), "w.json")
      val progress = new Progress
      spark.streams.addListener(progress)
      commitEnd.clear(); batches.clear()
      val q = Streaming.jsonFileSource(spark, dirs("in"), Models.redditPostSchema,
          maxFilesPerTrigger = 100000)
        .writeStream.option("checkpointLocation", dirs("ckpt"))
        .trigger(Trigger.ProcessingTime(TriggerMs))
        .foreachBatch(onBatch(dirs("table")) _).start()
      val deadline = System.currentTimeMillis() + DrainTimeoutMs
      while (!commitEnd.containsKey(0L) && System.currentTimeMillis() < deadline) Thread.sleep(10)
      require(commitEnd.containsKey(0L), "first micro-batch did not commit")
      while (progress.events.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
      firstBatchMs += progress.events.peek().durationMs.get("triggerExecution").longValue
      Lane(spark, q, progress, dirs)
    }

    val (lane, setupSecs) = Main.setUp[Lane] { l => l.query.stop(); Main.stopSession(l.spark) }(startLane)
    val spark = lane.spark
    val sc = spark.sparkContext
    val engine = new EngineListener
    if (tracing) sc.addSparkListener(engine)
    val (in, stage, table) = (lane.dirs("in"), lane.dirs("stage"), lane.dirs("table"))

    // Posts for the whole run are generated and written before release.
    val perFile = rate / FilesPerSecond
    val nFiles = (WarmupSeconds + a.seconds) * FilesPerSecond
    val all = posts(a.seed, nFiles * perFile, "p")
    val fileMs = 1000L / FilesPerSecond
    val staged = (0 until nFiles).map(k => f"f$k%06d.json")
    val t0 = System.currentTimeMillis() + 1500
    staged.zipWithIndex.foreach { case (name, k) =>
      Files.writeString(Paths.get(stage, name),
        all.slice(k * perFile, (k + 1) * perFile).map(json(_, t0 + k * fileMs)).mkString("", "\n", "\n"))
    }
    val windowStart = t0 + WarmupSeconds * 1000L
    val windowEnd = windowStart + a.seconds * 1000L
    val released = new Array[Long](nFiles)

    val releaser = new Thread(() => {
      for (k <- 0 until nFiles) {
        val due = t0 + k * fileMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        Files.move(Paths.get(stage, staged(k)), Paths.get(in, staged(k)), StandardCopyOption.ATOMIC_MOVE)
        released(k) = System.currentTimeMillis()
      }
    }, "perfbench-release")

    @volatile var reading = true
    val reads = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = new Thread(() => {
      val r = new scala.util.Random(a.seed + 7)
      EngineListener.setUnit(sc, "read")
      var k = 0
      while (reading) {
        val topic = s"topic${r.nextInt(Topics)}"
        val start = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val rows =
          try spans(s"r$k") {
            val got = Sources.readCurrent(spark, table, "content_id")
              .filter(col("topic") === topic)
              .orderBy(col("metadata.timestamp").desc, col("content_id"))
              .limit(50).select("topic").collect()
            if (got.forall(_.getString(0) == topic)) got.length else -1
          } catch { case e: Throwable => System.err.println(s"[perfbench] read failed: $e"); -1 }
        reads.add(Map("start_ms" -> start, "ms" -> (System.nanoTime() - n0) / 1e6,
          "ok" -> (rows >= 0), "rows" -> rows))
        k += 1
        Thread.sleep(ThinkMs)
      }
    }, "perfbench-reader")

    while (System.currentTimeMillis() < t0) Thread.sleep(1)
    releaser.start(); reader.start()
    releaser.join()
    reading = false
    reader.join()
    val totalRows = nFiles.toLong * perFile + perFile // plus the set-up file
    val deadline = System.currentTimeMillis() + DrainTimeoutMs
    while (lane.progress.rows < totalRows && System.currentTimeMillis() < deadline) Thread.sleep(20)
    val drained = lane.progress.rows >= totalRows
    lane.query.stop()

    // Reference: the same pipeline as one batch over every released post.
    val ref = s"${a.work}/stream/reference"
    Pipelines.endToEnd(spark.read.schema(Models.redditPostSchema).json(in)
        .as[RedditPost](org.apache.spark.sql.Encoders.product[RedditPost]))
      .select("content_id", "sentiment_label", "sentiment_score")
      .write.mode("overwrite").parquet(ref)
    if (tracing) spans.write(s"${a.work}/spans.jsonl")

    val progress = lane.progress.events.asScala.toSeq.map { p =>
      Map("id" -> p.batchId, "rows" -> p.numInputRows,
        "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    }
    val out = Map(
      "workload" -> a.workload, "setup_s" -> setupSecs, "setup_first_batch_ms" -> firstBatchMs.toSeq, "cpus" -> a.cpus, "rate" -> rate,
      "trigger_ms" -> TriggerMs, "window_start_ms" -> windowStart, "window_end_ms" -> windowEnd,
      "files" -> (0 until nFiles).map(k => Map("name" -> staged(k), "sched_ms" -> (t0 + k * fileMs),
        "released_ms" -> released(k), "posts" -> perFile)),
      "batches" -> batches.asScala.toSeq.map(b => b + ("commit_end_ms" -> commitEnd.get(b("id").asInstanceOf[Long]))),
      "progress" -> progress, "reads" -> reads.asScala.toSeq, "drained" -> drained,
      "engine" -> engine.snapshot, "source_log" -> s"${lane.dirs("ckpt")}/sources/0",
      "table" -> table, "reference" -> ref, "total_posts" -> totalRows)
    Main.stopSession(spark)
    out
  }
}
