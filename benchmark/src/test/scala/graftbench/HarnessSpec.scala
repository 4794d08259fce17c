package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class StatsSpec extends AnyFunSuite {
  test("percentile interpolates linearly between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0, 5.0)
    assert(Stats.percentile(xs, 0.0) == 1.0)
    assert(Stats.percentile(xs, 1.0) == 5.0)
    assert(Stats.median(xs) == 3.0)
    assert(math.abs(Stats.percentile(xs, 0.9) - 4.6) < 1e-12)
    assert(Stats.median(Seq(1.0, 2.0)) == 1.5)
    assert(Stats.percentile(Seq(7.0), 0.95) == 7.0)
  }

  test("quartiles match Python statistics.quantiles(n=4)") {
    // statistics.quantiles([1..10], n=4) == [2.75, 5.5, 8.25]
    assert(Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)))
    // statistics.quantiles([1, 2, 3, 4, 5], n=4) == [1.5, 3.0, 4.5]
    assert(Stats.quartiles(Seq(5.0, 1.0, 4.0, 2.0, 3.0)) == ((1.5, 3.0, 4.5)))
    // statistics.quantiles([1, 2], n=4) == [0.75, 1.5, 2.25]
    assert(Stats.quartiles(Seq(1.0, 2.0)) == ((0.75, 1.5, 2.25)))
  }
}

class GenSpec extends AnyFunSuite {
  private val p = GenParams(docs = 400)

  test("the same seed gives identical rows, forks, queries and batches") {
    val a = Gen.corpus(7L, p)
    val b = Gen.corpus(7L, p)
    assert(a == b)
    assert(Gen.queryPool(7L, a.rows, 3) == Gen.queryPool(7L, b.rows, 3))
    assert(Gen.queryStream(7L, Gen.queryPool(7L, a.rows, 3), 50) ==
      Gen.queryStream(7L, Gen.queryPool(7L, b.rows, 3), 50))
    assert(Gen.updateBatch(7L, 3, a.rows, 5, 5, p) == Gen.updateBatch(7L, 3, b.rows, 5, 5, p))
  }

  test("another seed gives another table") {
    assert(Gen.corpus(7L, p).rows != Gen.corpus(8L, p).rows)
  }

  test("rows carry their own sha256; forks copy an earlier file into another repo") {
    val c = Gen.corpus(3L, p)
    c.rows.foreach(r => assert(r.sha256 == graft.corpus.CorpusGen.sha256Hex(r.content)))
    assert(c.forks.nonEmpty)
    c.forks.foreach { case (o, f) =>
      assert(o < f)
      assert(c.rows(f).path == c.rows(o).path && c.rows(f).repo != c.rows(o).repo)
      assert(Workloads.jaccard(Workloads.shingles(c.rows(o).content),
        Workloads.shingles(c.rows(f).content)) > 0.5)
    }
  }

  test("stated rates show in the table") {
    val c = Gen.corpus(11L, GenParams(docs = 4000))
    val forkShare = c.forks.size / 4000.0
    assert(math.abs(forkShare - 0.05) < 0.015)
    val licensed = c.rows.count(_.content.startsWith("/* ")) / 4000.0
    assert(math.abs(licensed - 0.35) < 0.05)
  }

  test("update batches carry the round's marker and replace existing paths") {
    val c = Gen.corpus(5L, p)
    val batch = Gen.updateBatch(5L, 2, c.rows, 4, 3, p)
    assert(batch.size == 7)
    assert(batch.forall(_.content.contains(Gen.marker(2))))
    assert(batch.take(4).forall(b => c.rows.exists(_.path == b.path)))
    assert(batch.drop(4).forall(b => !c.rows.exists(_.path == b.path)))
  }

  test("table bytes are identical for the same seed") {
    val spark = SparkSession.builder().master("local[2]").appName("genspec")
      .config("spark.ui.enabled", "false").getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("genspec").toString
    try {
      def bytesOf(path: String): Seq[Byte] = {
        val part = new java.io.File(path).listFiles().filter(_.getName.startsWith("part-"))
        assert(part.length == 1)
        java.nio.file.Files.readAllBytes(part.head.toPath).toSeq
      }
      Common.writeTable(spark, Gen.corpus(9L, p).rows, s"$dir/a")
      Common.writeTable(spark, Gen.corpus(9L, p).rows, s"$dir/b")
      assert(bytesOf(s"$dir/a") == bytesOf(s"$dir/b"))
    } finally {
      Common.rmrf(dir)
      spark.stop()
    }
  }
}

class TraceSpec extends AnyFunSuite {
  private def s(id: Long, parent: Long, a: Long, b: Long) = Span(id, s"s$id", parent, "g", a, b)

  test("self time subtracts the union of child intervals") {
    val root = s(1, 0, 0, 100)
    assert(Trace.selfNs(root, Nil) == 100)
    assert(Trace.selfNs(root, Seq(s(2, 1, 10, 30), s(3, 1, 50, 60))) == 70)
    // overlapping children count once
    assert(Trace.selfNs(root, Seq(s(2, 1, 10, 40), s(3, 1, 30, 60))) == 50)
    // children are clipped to the parent
    assert(Trace.selfNs(root, Seq(s(2, 1, -10, 20), s(3, 1, 90, 130))) == 70)
    assert(Trace.selfNs(root, Seq(s(2, 1, 0, 100))) == 0)
  }

  test("a span's job count equals the jobs launched inside it") {
    val spark = SparkSession.builder().master("local[2]").appName("tracespec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val listener = new SpanListener
      sc.addSparkListener(listener)
      val tracer = new Tracer(sc, enabled = true)
      tracer.span("outer") {
        sc.parallelize(1 to 100, 4).count()
        tracer.span("inner") {
          sc.parallelize(1 to 10, 3).count()
          sc.parallelize(1 to 10, 2).map(_ * 2).collect()
        }
      }
      sc.parallelize(1 to 10, 2).count() // outside every span
      org.apache.spark.BenchBus.drain(sc)
      val byName = tracer.all.map(sp => sp.name -> sp).toMap
      val outer = listener.workOf(byName("outer").id)
      val inner = listener.workOf(byName("inner").id)
      assert(outer.jobs == 1 && outer.tasks == 4)
      assert(inner.jobs == 2 && inner.tasks == 5)
      assert(byName("inner").parent == byName("outer").id)
      assert(sc.getLocalProperty(Trace.SpanKey) == null)
      val layers = Common.layers(tracer.all, listener)
      assert(layers("outer").work.jobs == 1)
      val kids = tracer.all.filter(_.parent == byName("outer").id)
      assert(Trace.selfNs(byName("outer"), kids) < byName("outer").durNs)
    } finally spark.stop()
  }

  test("the timed loop runs whole blocks; traced, untraced and traced blocks alternate") {
    val spark = SparkSession.builder().master("local[1]").appName("tracespec3")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      def ctx(trace: Boolean) = new Ctx(spark, new Tracer(sc, trace), new SpanListener, "",
        0L, 0.0, trace, 1)
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean)]
      val c = ctx(trace = true)
      val t = Workloads.timedLoop(c, seconds = 0.0, block = 3) { i =>
        seen += i -> c.tracer.enabled
      }
      // at least one untraced and one traced block, each whole
      assert(seen.toSeq == Seq(0 -> false, 1 -> false, 2 -> false, 3 -> true, 4 -> true, 5 -> true))
      assert(t.plain.map(_.i) == Seq(0, 1, 2) && t.traced.map(_.i) == Seq(3, 4, 5))
      assert(c.tracer.enabled)
      val u = Workloads.timedLoop(ctx(trace = false), seconds = 0.0, block = 3)(_ => ())
      assert(u.plain.size == 3 && u.traced.isEmpty)
      val n = Workloads.timedLoop(ctx(trace = true), seconds = 0.0, plainToo = false)(_ => ())
      assert(n.plain.isEmpty && n.traced.size == 1)
      // a block is finished even after the time is up
      val slow = Workloads.timedLoop(ctx(trace = false), seconds = 0.05, block = 4)(_ =>
        Thread.sleep(20))
      assert(slow.plain.size == 4)
      assert(slow.plain.forall(_.wallS >= 0.019))
    } finally spark.stop()
  }

  test("a disabled tracer records nothing and tags no job") {
    val spark = SparkSession.builder().master("local[1]").appName("tracespec2")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer(spark.sparkContext, enabled = false)
      assert(tracer.span("x")(spark.sparkContext.getLocalProperty(Trace.SpanKey)) == null)
      assert(tracer.all.isEmpty)
    } finally spark.stop()
  }
}
