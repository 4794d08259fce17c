package graftbench

import graft.build.{DocsTable, IndexBuilder, IndexPaths}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** `bulk_build`: a full build (flush → postings → stats) of the generated
  * table at two parallelism levels. The JVM starts pinned to the wide leg's
  * CPUs; after that leg it stops Spark, re-pins every one of its threads to
  * the narrow leg's CPUs (`taskset -a -p`) and starts Spark again, so each
  * leg's tasks, GC and JIT share exactly that leg's cores, and both legs run
  * with the same JIT, warmed by the set-up builds. */
object BulkBuild {
  /** Docs of the table the traced `warm_search` run builds for the build layer. */
  val ProbeDocs = 1000

  def run(ctx: Ctx, out: Outcome, wideCpus: Seq[Int], narrowCpus: Seq[Int],
          cache: Option[String]): Ctx = {
    val p = GenParams(Workloads.BuildDocs)
    out.info("input") = p.fields
    val corpus = Gen.corpus(ctx.seed, p)
    val input = s"${ctx.work}/input"
    // the input is the harness's own: made before set-up, outside every timing
    Common.writeTable(ctx.spark, corpus.rows, input)
    // set-up: full builds of the table on the wide leg (they also warm the
    // JIT for the timed builds)
    val table = Common.readTable(ctx.spark, input)
    Workloads.setupMedian(out, (0 until Workloads.Setups).map { i =>
      val dir = s"${ctx.work}/setup$i"
      val m = Workloads.measure(buildOnce(ctx, table, dir))
      Common.rmrf(dir)
      m
    })
    val jit = Common.jitSeconds()

    val (nctx, wide) = legs(ctx, out, input, narrowCpus)
    out.put("throughput_per_s", out.metrics("build_files_per_s")._1, "1/s")
    out.put("latency_p50_s", wide.wallS, "s")
    out.put("op_cpu_s", wide.cpuS, "s")
    if (!ctx.trace) nctx
    else {
      out.put("trace.overhead_ratio", wide.tracedWallS / wide.wallS, "ratio")
      out.info("trace_overhead_s") = wide.tracedWallS - wide.wallS
      Workloads.microLayers(corpus.rows, out)
      Workloads.jvmLayers(out, jit)
      // the serving layers, on warm_search's index, with every core again
      val wctx = restart(nctx, wideCpus)
      Workloads.serveLayers(wctx, out, cache.getOrElse(sys.error("a traced run needs --cache")))
      wctx
    }
  }

  /** The build layer inside a traced `warm_search` run: a `ProbeDocs` table
    * of the run's seed, one untimed warm-up build, then both legs. Leaves
    * the JVM on the narrow leg's CPUs. */
  def probe(ctx: Ctx, out: Outcome, narrowCpus: Seq[Int]): Ctx = {
    val input = s"${ctx.work}/probe-input"
    Common.writeTable(ctx.spark, Gen.corpus(ctx.seed, GenParams(ProbeDocs)).rows, input)
    buildOnce(ctx, Common.readTable(ctx.spark, input), s"${ctx.work}/probe-warmup")
    Common.rmrf(s"${ctx.work}/probe-warmup")
    out.info("build_probe_docs") = ProbeDocs
    legs(ctx, out, input, narrowCpus)._1
  }

  def buildOnce(ctx: Ctx, table: org.apache.spark.sql.Dataset[graft.corpus.SourceFile],
                dir: String): Unit = ctx.tracer.span("build") {
    ctx.tracer.span("build.flush")(IndexBuilder.buildFlush(ctx.spark, table, dir, ctx.cores))
    ctx.tracer.span("build.postings")(IndexBuilder.buildPostings(ctx.spark, dir, ctx.cores))
    ctx.tracer.span("build.stats")(IndexBuilder.buildStats(ctx.spark, dir, ctx.cores))
  }

  /** Medians of one leg: wall and CPU seconds of a build, and (traced) the
    * wall seconds of a traced build. */
  final case class Leg(wallS: Double, cpuS: Double, tracedWallS: Double)

  /** The wide leg on `ctx`, then the narrow leg after a re-pin; checks that
    * both legs write the same dictionary and collection stats. Returns the
    * narrow leg's context and the wide leg's medians. */
  def legs(ctx: Ctx, out: Outcome, input: String, narrowCpus: Seq[Int]): (Ctx, Leg) = {
    val (wideLeg, wide) = leg(ctx, out, input, "wide", checkDocs = true)
    val nctx = restart(ctx, narrowCpus)
    val (narrowLeg, narrow) = leg(nctx, out, input, "narrow", checkDocs = false)
    Seq("term_dict", "collection_stats").foreach { t =>
      out.check(wide(t) == narrow(t), s"$t differs between the legs")
    }
    val fw = out.metrics("build_files_per_s")._1
    val fn = out.metrics("build_files_per_s_narrow")._1
    out.put("build_scaling_eff", fw / (ctx.cores.toDouble / narrowCpus.size * fn), "ratio")
    out.info("legs") = ListMap("wide" -> ctx.cores, "narrow" -> narrowCpus.size)
    out.info("narrow_leg") = narrowLeg
    (nctx, wideLeg)
  }

  /** Stops Spark, pins every thread of this JVM to `cpus` and starts Spark
    * again on that many cores. */
  def restart(ctx: Ctx, cpus: Seq[Int]): Ctx = {
    ctx.spark.stop()
    val pid = ProcessHandle.current().pid()
    // taskset fails when a thread exits while it walks them; a retry pins
    // the threads that remain
    val pinned = (1 to 5).exists { _ =>
      new ProcessBuilder("taskset", "-a", "-p", "-c", cpus.mkString(","), pid.toString)
        .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
        .start().waitFor() == 0
    }
    require(pinned, s"could not pin the JVM to CPUs $cpus")
    val spark = Common.session(cpus.size, ctx.work)
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    new Ctx(spark, new Tracer(spark.sparkContext, ctx.trace), listener, ctx.work,
      ctx.seed, ctx.seconds, ctx.trace, cpus.size)
  }

  /** Builds until `ctx.seconds / 2` elapse (see [[Workloads.timedLoop]]; the
    * narrow leg of a traced run makes one traced build); checks the last
    * build and returns the leg's medians and the digests of its dictionary
    * and collection stats. */
  def leg(ctx: Ctx, out: Outcome, input: String, name: String,
          checkDocs: Boolean): (Leg, Map[String, String]) = {
    val spark = ctx.spark
    val table = Common.readTable(spark, input)
    val n = table.count()
    var dir = ""
    val sfx = if (name == "wide") "" else s"_$name"
    ctx.tracer.reset(); ctx.listener.reset()
    val threads0 = Common.threadCpuSeconds()
    val t = Workloads.timedLoop(ctx, ctx.seconds / 2, plainToo = name == "wide") { i =>
      if (dir.nonEmpty) Common.rmrf(dir)
      dir = s"${ctx.work}/index-$name-$i"
      ctx.tracer.inGroup(s"build$i")(buildOnce(ctx, table, dir))
    }
    // a traced narrow leg has traced builds only
    val samples = if (t.plain.nonEmpty) t.plain else t.traced
    val l = Leg(Stats.median(samples.map(_.wallS)), Stats.median(samples.map(_.cpuS)),
      if (t.traced.isEmpty) Double.NaN else Stats.median(t.traced.map(_.wallS)))
    out.put(s"build_files_per_s$sfx", n / l.wallS, "1/s")
    out.put(s"build_s.$name", l.wallS, "s")
    out.put(s"build_cpu_s.$name", l.cpuS, "s")
    out.info(s"builds_$name") = samples
    out.info(s"thread_cpu_s_$name") = Common.threadCpuSeconds().map { case (g, c) =>
      g -> (c - threads0.getOrElse(g, 0.0)) }
    if (ctx.trace) {
      ctx.drain()
      val ls = Common.layers(ctx.tracer.all, ctx.listener)
      Seq("flush", "postings", "stats").foreach { st =>
        val l = ls(s"build.$st")
        val c = l.count.toDouble
        out.put(s"build.$st.wall_s.$name", l.wallS / c, "s")
        out.put(s"build.$st.jobs.$name", l.work.jobs / c, "count")
        out.put(s"build.$st.tasks.$name", l.work.tasks / c, "count")
        out.put(s"build.$st.task_s.$name", l.work.taskNs / 1e9 / c, "s")
        out.put(s"build.$st.shuffle_write_bytes.$name", l.work.shuffleWriteBytes / c, "B")
        out.put(s"build.$st.input_bytes.$name", l.work.inputBytes / c, "B")
        out.put(s"build.$st.spill_bytes.$name", l.work.spillBytes / c, "B")
      }
      out.info(s"spans_$name") = Common.spanRows(ctx.tracer.all, ctx.listener)
    }
    if (checkDocs) {
      out.put("index_bytes_per_input_byte", Common.du(dir).toDouble / Common.du(input), "ratio")
      // every input row is stored once, with its own sha256 and content
      val docs = DocsTable.read(spark, dir)
      val keys = Seq("repo", "path", "commit")
      val stored = docs.count()
      out.check(stored == n, s"docs table holds $stored rows, the input $n")
      val distinct = docs.select(keys.map(col): _*).distinct().count()
      out.check(distinct == n, s"docs table holds $distinct distinct keys, the input $n")
      val bad = table.toDF().select(keys.map(col) :+ col("sha256").as("inSha"): _*)
        .join(docs, keys, "full_outer")
        .where(col("docId").isNull || col("inSha").isNull || col("sha256") =!= col("inSha") ||
          sha2(col("content"), 256) =!= col("inSha")).count()
      out.check(bad == 0, s"docs table: $bad rows differ from the input")
    }
    def digest(df: org.apache.spark.sql.DataFrame): String =
      graft.corpus.CorpusGen.sha256Hex(df.collect().map(_.toSeq.mkString("\u0001")).sorted
        .mkString("\n"))
    val d = Map("term_dict" -> digest(spark.read.parquet(IndexPaths.termDict(dir))),
      "collection_stats" -> digest(spark.read.parquet(IndexPaths.collectionStats(dir))))
    Common.rmrf(dir)
    (l, d)
  }
}
