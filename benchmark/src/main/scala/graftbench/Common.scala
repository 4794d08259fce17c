package graftbench

import graft.corpus.SourceFile
import org.apache.spark.sql.{Dataset, SparkSession}

import java.lang.management.ManagementFactory
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** What one run measured and checked. `metrics` are named as the README
  * lists them; run.py maps them onto BENCHMARK.json. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]

  /** One checked operation; a false `ok` counts as failed. */
  def check(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += what
    }
    ok
  }

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** The report as JSON (Jackson, with its Scala module, from Spark's jars). */
  def json: String = Common.Mapper.writeValueAsString(ListMap(
    "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
    "metrics" -> ListMap.from(metrics.map { case (k, (v, u)) =>
      k -> ListMap("value" -> v, "unit" -> u) }),
    "info" -> ListMap.from(info)))
}

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val listener: SpanListener, val work: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val cores: Int) {
  def sc: org.apache.spark.SparkContext = spark.sparkContext
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)
}

object Common {

  /** The fixed, stated Spark settings of every run. Nothing is read from
    * the environment. */
  val SparkSettings: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.driver.host" -> "localhost",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.io.compression.codec" -> "lz4",
    "spark.sql.parquet.compression.codec" -> "snappy",
    "spark.sql.maxConcurrentOutputFileWriters" -> "8")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    SparkSettings.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def writeTable(spark: SparkSession, rows: Seq[SourceFile], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(rows).coalesce(1).write.mode("overwrite").parquet(path)
  }

  def readTable(spark: SparkSession, path: String): Dataset[SourceFile] = {
    import spark.implicits._
    spark.read.parquet(path).as[SourceFile]
  }

  def rmrf(path: String): Unit =
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(path))

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  val Mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** CPU seconds this JVM has used, all threads. Time the hypervisor gives
    * to other guests (steal) does not count, unlike wall time. */
  def processCpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** CPU seconds of the live JIT compiler threads (utime + stime). run.py
    * starts the JVM with a fixed set of them
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none exits and takes its
    * time out of the sum. */
  def compilerCpuSeconds(): Double = threadCpuSeconds().getOrElse("jit", 0.0)

  /** CPU seconds (utime + stime) of the live threads of this JVM, by group:
    * jit (compiler threads), gc, spark-task, and other. */
  def threadCpuSeconds(): Map[String, Double] = {
    val tasks = Option(new java.io.File("/proc/self/task").listFiles()).getOrElse(Array.empty)
    tasks.toSeq.flatMap { t =>
      try {
        val st = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
        val comm = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        val group =
          if (comm.contains("CompilerThre")) "jit"
          else if (comm.startsWith("GC Thread") || comm.startsWith("G1 ")) "gc"
          else if (comm.startsWith("Executor task")) "spark-task"
          else "other"
        Some(group -> (f(11).toLong + f(12).toLong))
      } catch { case _: java.io.IOException => None } // the thread ended
    }.groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sum / ClockTicks }
  }

  /** USER_HZ, the unit of /proc CPU times; 100 on Linux. */
  val ClockTicks = 100.0

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
  }

  def jitSeconds(): Double =
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  /** Directory size in bytes. */
  def du(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(c => du(c.getPath)).sum).getOrElse(0L)
  }

  /** Per-span-name aggregates of a traced phase: count, wall and the Spark
    * work attributed to the spans themselves. */
  final case class Layer(count: Int, wallS: Double, work: SparkWork)

  def layers(spans: Seq[Span], listener: SpanListener): Map[String, Layer] =
    spans.groupBy(_.name).map { case (name, ss) =>
      val w = new SparkWork
      ss.foreach(s => w.add(listener.workOf(s.id)))
      name -> Layer(ss.size, ss.map(_.durNs).sum / 1e9, w)
    }

  /** The spans as JSON-ready rows, with self time. */
  def spanRows(spans: Seq[Span], listener: SpanListener): Seq[ListMap[String, Any]] = {
    val kids = spans.groupBy(_.parent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.startNs).min
    spans.sortBy(_.startNs).map { s =>
      val w = listener.workOf(s.id)
      ListMap("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "group" -> s.group,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "self_s" -> Trace.selfNs(s, kids.getOrElse(s.id, Nil)) / 1e9,
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_s" -> w.taskNs / 1e9,
        "shuffle_write_bytes" -> w.shuffleWriteBytes, "input_bytes" -> w.inputBytes,
        "records_read" -> w.recordsRead, "spill_bytes" -> w.spillBytes)
    }
  }
}
