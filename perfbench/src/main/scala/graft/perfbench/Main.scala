package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The benchmark JVM. `perfbench/run.py` builds it, writes the inputs and
  * starts it with
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <tables dir> --inputs <workload inputs dir> --work <scratch dir>
  *   --out <result file> [--spans <spans file>]
  *
  * It writes one JSON object of raw measurements to `--out`; `run.py` turns
  * them into the benchmark's metrics. Nothing is printed that a caller must
  * parse.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        data: String, inputs: String, work: String, out: String,
                        spans: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("inputs"), m("work"), m("out"), m.get("spans"))
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config(graft.Tables.NanosKey, "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set size of this JVM, from /proc (0 where unavailable). */
  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    }.getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark, a.trace, s"${a.workload}-${a.seed}-${jvmStartMs}")
    val run = new Run(spark, tracer, a)
    val result = try {
      a.workload match {
        case "boost_wide" => Workloads.boostWide(run)
        case "boost_rounds" => Workloads.boostRounds(run)
        case "dedup_daily" => Workloads.dedupDaily(run)
        case "catalog" => Workloads.catalog(run)
        case "catalog_dump" => Workloads.catalogDump(run)
        case "selftest_spans" => Workloads.selftestSpans(run)
        case "probe_predict" => Workloads.probePredict(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      tracer.finish()
      a.spans.foreach(p => Files.writeString(Paths.get(p), Json(tracer.dump)))
    }
    val out = result ++ Map("session_s" -> sessionS, "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(a.out), Json(out))
    spark.stop()
  }
}

/** State shared by one workload run: the session, the tracer, the arguments,
  * timed operations and correctness checks. */
final class Run(val spark: SparkSession, val tracer: Tracer, val args: Main.Args) {
  val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  val setupReps = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var checks = 0

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) failures += what
  }

  /** Wall seconds of `body`, recorded as a timed operation named `name`. */
  def op[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    ops += ((name, (System.nanoTime() - t0) / 1e9))
    r
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The raw result. `extra` is built after the tracer has seen every
    * event, so layer counts read from it are complete. */
  def result(extra: => Map[String, Any]): Map[String, Any] = {
    tracer.finish()
    Map("ops" -> ops.map { case (n, s) => Map("name" -> n, "s" -> s) }.toSeq,
      "setup_reps_s" -> setupReps.toSeq, "checks" -> checks,
      "failures" -> failures.toSeq) ++ extra
  }
}

/** Minimal JSON writer for the result and spans files. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
