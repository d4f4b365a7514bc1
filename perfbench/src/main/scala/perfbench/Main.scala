package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Entry point: `Main --workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --fixture <documents parquet>`. Prints a human-readable
  * summary, then, as the last stdout line, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics` (end-to-end metrics
  * with `--trace 0`, per-layer metrics with `--trace 1`). */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, fixture: String)

  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $other")
    }
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, trace, need("work"), need("fixture"))
  }

  def session(work: String, trace: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // traced runs count file opens and creates on the local file system
    val s = (if (trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
      .config("spark.hadoop.fs.file.impl.disable.cache", "true") else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    if (!Workloads.names.contains(args.workload)) {
      System.err.println(s"perfbench: unknown workload '${args.workload}' (one of ${Workloads.names.mkString(", ")})")
      sys.exit(2)
    }
    HeapWatch.install()
    val t0 = System.nanoTime()
    val spark = session(args.work, args.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report =
      try Workloads.run(args, spark, sessionS)
      finally spark.stop()
    report.summary.foreach(println)
    println(report.json(args.trace))
  }
}

/** What a run reports: counted operations, end-to-end metrics, per-layer
  * metrics and human-readable summary lines. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val e2e = mutable.LinkedHashMap[String, (Double, String)]()
  val layer = mutable.LinkedHashMap[String, (Double, String)]()
  val summary = mutable.ArrayBuffer[String]()

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"perfbench: FAILED $what")
  }

  def json(trace: Boolean): String = {
    val ms = (if (trace) layer else e2e).map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "0" else v.toString
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
