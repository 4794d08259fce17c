package graftbench

/** Harness entry, launched by run.py:
  *
  *   run --workload bulk_build|warm_search --cache DIR --wide-cpus LIST --narrow-cpus LIST ...
  *   prepare --cache DIR ...      (builds warm_search's index into DIR)
  *
  * with common flags --seed N --seconds S --trace 0|1 --work DIR
  * --report FILE. The JVM starts on the wide leg's CPUs, one Spark core
  * each. Writes its full report (metrics, checks, info,
  * spans) as JSON to --report; run.py turns it into the one-line result. */
object Main {
  def flags(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val f = flags(args.toSeq.drop(1))
    val work = f("work")
    def cpus(k: String) = f(k).split(",").map(_.toInt).toSeq
    val cores = cpus("wide-cpus").size
    val trace = f.getOrElse("trace", "0") == "1"
    val spark = Common.session(cores, work)
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    var ctx = new Ctx(spark, new Tracer(spark.sparkContext, trace), listener, work,
      f.getOrElse("seed", "0").toLong, f.getOrElse("seconds", "0").toDouble, trace, cores)
    val out = new Outcome
    val started = System.nanoTime()
    try {
      (args(0), f.get("workload")) match {
        case ("prepare", _) => Workloads.prepareSearch(ctx, f("cache"))
        case ("run", Some("warm_search")) =>
          ctx = Workloads.warmSearch(ctx, out, f("cache"), cpus("narrow-cpus"))
        case ("run", Some("bulk_build")) =>
          ctx = BulkBuild.run(ctx, out, cpus("wide-cpus"), cpus("narrow-cpus"), f.get("cache"))
        case (m, w) => sys.error(s"unknown mode $m / workload $w")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        out.check(ok = false, s"run aborted: $e")
        e.printStackTrace()
    }
    out.info("run_wall_s") = (System.nanoTime() - started) / 1e9
    out.put("jvm.peak_rss_mb", Common.peakRssMb(), "MB")
    val w = new java.io.PrintWriter(f("report"), "UTF-8")
    try w.write(out.json) finally w.close()
    ctx.spark.stop()
    // a run that failed between a Spark restart and its return leaves the
    // new session running; no Spark thread may keep the JVM alive
    org.apache.spark.sql.SparkSession.getDefaultSession.foreach(_.stop())
    sys.exit(0)
  }
}
