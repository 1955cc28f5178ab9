package perfbench

import scala.collection.mutable

import graft.{Qh, SparkEntry, Tables}
import org.apache.spark.sql.SparkSession

/** `analytics_mix`: one closed-loop client running the
  * mix's registered queries back to back over the generated tables, in a
  * per-pass order drawn from the seed. The first pass pays JIT and memo
  * builds and writes every result for the DuckDB comparison in run.py;
  * the passes after it write to `noop`: untimed warm-up passes, then the
  * timed ones.
  * The query list comes from run.py (`queries=a,b,...`).
  */
object QueryMix {
  /** Fewest timed passes a run makes, whatever its time budget. With
    * fewer, the execution that `latency_p90_ms` reports (ten above it)
    * falls on the edge between two queries' times and jumps between runs. */
  val MinTimedPasses = 6
  /** Untimed passes after the cold one, before the timed window. */
  val WarmupSeconds = 15

  /** Registry module of each query, for the per-module sums. */
  lazy val moduleOf: Map[String, String] = {
    import graft.operators._
    Seq("Relational" -> Relational.defs, "TextOps" -> TextOps.defs,
      "Similarity" -> Similarity.defs, "Dedup" -> Dedup.defs, "FuncOps" -> FuncOps.defs,
      "Skew" -> Skew.defs, "Multimodal" -> graft.multimodal.Multimodal.defs,
      "Temporal" -> Temporal.defs, "Layout" -> Layout.defs, "Bpe" -> Bpe.defs,
      "Graph" -> Graph.defs).flatMap { case (m, defs) => defs.map(_._1 -> m) }.toMap
  }

  def run(a: Main.Args): Map[String, Any] = {
    val names = a("queries").split(",").toSeq
    val dir = a("data")
    val (spark, setupSecs) = Main.setUp[SparkSession](Main.stopSession) { _ =>
      val s = Main.session(a)
      Tables.registerAll(s, dir)
      s.range(100000).selectExpr("id % 32 AS k", "id AS v")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      s
    }
    val sc = spark.sparkContext
    val engine = new EngineListener
    val plans = new SavedPlans
    if (a.trace) {
      sc.addSparkListener(engine)
      spark.listenerManager.register(plans)
    }
    val spans = new Spans(s"${a.workload}-${a.seed}", a.trace)
    val queries = SparkEntry.queries
    val check = s"${a.work}/check"

    def cleanUp(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    }

    /** One query execution: build, then the write: the result to parquet
      * for the output check on the first pass, to `noop` after it. */
    def execute(pass: Int, name: String, traced: Boolean): Map[String, Any] = {
      val unit = s"p$pass:$name"
      val fb0 = Qh.fallbackCount.get()
      plans.clear()
      val t0 = System.nanoTime()
      var tb = t0
      val ok =
        try spans(unit, s"p$pass") {
          EngineListener.setUnit(sc, s"$unit:build")
          val df = spans(s"$unit:build", unit)(queries(name)(spark, dir))
          tb = System.nanoTime()
          EngineListener.setUnit(sc, s"$unit:exec")
          spans(s"$unit:exec", unit) {
            if (pass == 0) df.coalesce(1).write.mode("overwrite").parquet(s"$check/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed in pass $pass: $e")
            false
        } finally EngineListener.setUnit(sc, null)
      val t1 = System.nanoTime()
      val plan = if (traced && ok) plans.next().map(qe => PlanStats(qe.executedPlan)) else None
      cleanUp()
      Map("name" -> name, "ok" -> ok, "ms" -> (t1 - t0) / 1e6,
        "build_ms" -> (tb - t0) / 1e6, "exec_ms" -> (t1 - tb) / 1e6,
        "fallbacks" -> (Qh.fallbackCount.get() - fb0), "plan" -> plan,
        "module" -> moduleOf.getOrElse(name, "unknown"))
    }

    // Pass 0 is cold and never traced. Untimed warm-up passes follow for
    // [[WarmupSeconds]], so the JIT has settled before the timed passes
    // fill the window. In a traced run the timed passes alternate traced
    // (odd) and untraced (even), which prices tracing.
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int, phase: String): Unit = {
      val traced = a.trace && phase == "timed" && pass % 2 == 1
      val order = new scala.util.Random(a.seed * 1000 + pass).shuffle(names)
      val t0 = System.nanoTime()
      val start = System.currentTimeMillis()
      val qs = spans(s"p$pass")(order.map(n => execute(pass, n, traced)))
      passes += Map("pass" -> pass, "phase" -> phase, "traced" -> traced, "start_ms" -> start,
        "wall_ms" -> (System.nanoTime() - t0) / 1e6, "queries" -> qs)
    }
    def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9
    runPass(0, "cold")
    val warmupStart = System.nanoTime()
    while (since(warmupStart) < WarmupSeconds) runPass(passes.size, "warmup")
    val windowStart = System.nanoTime()
    val firstTimed = passes.size
    while (passes.size - firstTimed < MinTimedPasses || since(windowStart) < a.seconds)
      runPass(passes.size, "timed")
    val windowSecs = (System.nanoTime() - windowStart) / 1e9

    if (a.trace) spans.write(s"${a.work}/spans.jsonl")
    val out = Map("workload" -> a.workload, "setup_s" -> setupSecs, "window_s" -> windowSecs,
      "cpus" -> a.cpus, "passes" -> passes.toSeq, "engine" -> engine.snapshot,
      "check_dir" -> check,
      "oracle_sql" -> names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    Main.stopSession(spark)
    out
  }
}
