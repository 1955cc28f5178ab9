package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Runs one workload in this JVM and writes its raw
  * measurements (timestamps, per-batch and per-query records, engine
  * counters) as one JSON object to `out`; `run.py` turns them into the
  * reported metrics and checks the outputs.
  *
  * Arguments are `key=value` pairs: workload, seed, seconds, trace (0|1),
  * cpus, work (scratch directory), data and queries (batch mixes),
  * rate (posts/s, stream), out.
  */
object Main {
  /** Set-ups per run; the reported set-up time is their median. */
  val Setups = 3

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing argument $k"))
    def int(k: String): Int = apply(k).toInt
    val workload: String = apply("workload")
    val seed: Long = apply("seed").toLong
    val seconds: Int = int("seconds")
    val trace: Boolean = apply("trace") == "1"
    val cpus: Int = int("cpus")
    val work: String = apply("work")
  }

  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Runs `once` [[Setups]] times, stopping all but the last result, and
    * returns that one with every set-up's seconds. The first set-up is
    * timed from JVM start, so it carries the process start cost. */
  def setUp[T](stop: T => Unit)(once: Int => T): (T, Seq[Double]) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var last: Option[T] = None
    val secs = (1 to Setups).map { i =>
      last.foreach(stop)
      val t0 = if (i == 1) jvmStart else System.currentTimeMillis()
      last = Some(once(i))
      (System.currentTimeMillis() - t0) / 1000.0
    }
    (last.get, secs)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    Files.createDirectories(Paths.get(a.work))
    val out = a.workload match {
      case "sentiment_stream" => SentimentStream.run(a)
      case "analytics_mix" => QueryMix.run(a)
      case w => sys.error(s"unknown workload $w")
    }
    Files.writeString(Paths.get(a("out")), Json(out))
  }
}

/** Minimal JSON writer for the raw-measurement record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
