package graftbench

import graft.analysis.Analyzer
import graft.corpus.SourceFile
import graft.pipeline.Dedup
import graft.postings.PostingsCodec
import graft.search.{BoolQ, IndexReader, PhraseQ, Query, ScoreDoc, Searcher, TermQ}
import graft.streaming.StreamingIndexer
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Shared workload machinery and the `warm_search` workload. Each workload
  * makes its input, runs `Setups` set-ups (median → setup_s), an untimed
  * check pass, then a timed closed loop of `ctx.seconds` ([[timedLoop]]). */
object Workloads {
  val Setups = 3
  val TopK = 10

  /** Input sizes, fixed per workload (recorded in every result). */
  val SearchDocs = 3000
  /** warm_search serves one fixed table; the run's seed draws its queries. */
  val SearchTableSeed = 20181L
  val BuildDocs = 4000
  /** Distinct queries per class in the warm_search pool. */
  val PerClass = 1
  /** Rounds of the query pool a traced `bulk_build` run sends to the
    * served index for the search layer. */
  val ProbeRounds = 1
  /** Update rounds and their batch shape (traced warm_search runs). */
  val UpdateRounds = 2
  val UpdateReplace = 20
  val UpdateInsert = 20
  val QueriesPerRound = 1
  val Merge = graft.build.TieredMergePolicy.Config(maxMergeAtOnce = 2, segsPerTier = 2.0)
  /** Near-dup sample: the first rows of warm_search's table (traced bulk_build runs). */
  val DupDocs = 150
  val DupThreshold = 0.5

  /** Wall seconds of one operation; the CPU seconds of every thread of the
    * JVM meanwhile less those of its JIT compiler threads (background
    * compilation is warm-up, not the engine's work); and the latter. */
  final case class Sample(i: Int, wallS: Double, cpuS: Double, jitS: Double)

  def measure(body: => Unit): Sample = {
    val (c0, j0) = (Common.processCpuSeconds(), Common.compilerCpuSeconds())
    val t0 = System.nanoTime()
    body
    val t1 = System.nanoTime()
    val (c1, j1) = (Common.processCpuSeconds(), Common.compilerCpuSeconds())
    Sample(0, (t1 - t0) / 1e9, (c1 - c0) - (j1 - j0), j1 - j0)
  }

  /** The timed closed loop of a run: `op(i)` is iteration i. Iterations come
    * in blocks of `block` and run in whole blocks until `seconds` elapse (at
    * least one block), so every run has the same mix of the operations a
    * block takes in turn. Traced, blocks alternate untraced / traced (at
    * least one of each), so the tracing overhead is measured on the same
    * set-up, warm-up and mix; with `plainToo = false` every block is traced.
    * Returns the untraced and the traced samples. */
  def timedLoop(ctx: Ctx, seconds: Double, block: Int = 1, plainToo: Boolean = true)(
      op: Int => Unit): Timed = {
    val plain = mutable.ArrayBuffer.empty[Sample]
    val traced = mutable.ArrayBuffer.empty[Sample]
    val minIters = block * (if (ctx.trace && plainToo) 2 else 1)
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minIters || i % block != 0 || System.nanoTime() < end) {
      val tr = ctx.trace && (!plainToo || (i / block) % 2 == 1)
      ctx.tracer.enabled = tr
      val s = measure(op(i)).copy(i = i)
      if (tr) traced += s else plain += s
      i += 1
    }
    ctx.tracer.enabled = ctx.trace
    Timed(plain.toSeq, traced.toSeq)
  }

  final case class Timed(plain: Seq[Sample], traced: Seq[Sample])

  def same(a: Array[ScoreDoc], b: Array[ScoreDoc]): Boolean =
    a.length == b.length && a.indices.forall(i =>
      a(i).docId == b(i).docId && java.lang.Float.compare(a(i).score, b(i).score) == 0)

  /** setup_s is the median CPU seconds of the set-ups (see README, "Why CPU
    * seconds"); their wall seconds are kept as a per-layer metric. */
  def setupMedian(out: Outcome, setups: Seq[Sample]): Unit = {
    out.put("setup_s", Stats.median(setups.map(_.cpuS)), "s")
    out.put("setup_wall_s", Stats.median(setups.map(_.wallS)), "s")
    out.info("setup_runs") = setups
  }

  // ------------------------------------------------------------ layers

  /** graft.analysis and graft.postings, single thread over a sample of the
    * table (median of three passes after one warm-up pass). */
  def microLayers(rows: IndexedSeq[SourceFile], out: Outcome): Unit = {
    val sample = rows.take(1000)
    val analyzers = sample.map(r => Analyzer.forLang(r.lang))
    def analyzeAll(): (Long, Double) = Common.timed {
      var n = 0L
      var i = 0
      while (i < sample.length) {
        n += analyzers(i).analyze(sample(i).content).tokens.length
        i += 1
      }
      n
    }
    analyzeAll()
    val passes = Seq.fill(3)(analyzeAll())
    val aS = Stats.median(passes.map(_._2))
    out.put("analysis.tokens_per_s", passes.head._1 / aS, "1/s")
    out.put("analysis.ns_per_file", aS * 1e9 / sample.length, "ns")

    // term -> postings over the sample's docs, as the flush stage builds them
    val lists = mutable.HashMap.empty[String, (mutable.ArrayBuffer[Long],
      mutable.ArrayBuffer[Int], mutable.ArrayBuffer[Int])]
    sample.indices.foreach { d =>
      val toks = analyzers(d).analyze(sample(d).content).tokens
      val norm = math.min(255, toks.length)
      toks.groupBy(_.term).foreach { case (t, occ) =>
        val l = lists.getOrElseUpdate(t, (mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty,
          mutable.ArrayBuffer.empty))
        l._1 += d.toLong; l._2 += occ.length; l._3 += norm
      }
    }
    val arrays = lists.values.map(l => (l._1.toArray, l._2.toArray, l._3.toArray)).toArray
    val postings = arrays.map(_._1.length.toLong).sum
    def encodeAll() = Common.timed(arrays.map(a => PostingsCodec.encodeBlocks(a._1, a._2, a._3)))
    encodeAll()
    val enc = Seq.fill(3)(encodeAll())
    val blocks = enc.head._1.flatten
    def decodeAll() = Common.timed(blocks.foreach(b =>
      PostingsCodec.decodeBlock(b.firstDocId, b.numDocs, b.bytes)))
    decodeAll()
    val dec = Seq.fill(3)(decodeAll())
    out.put("postings.bytes_per_posting",
      blocks.map(_.bytes.length.toLong).sum.toDouble / postings, "B")
    out.put("postings.encode_ns_per_posting", Stats.median(enc.map(_._2)) * 1e9 / postings, "ns")
    out.put("postings.decode_ns_per_posting", Stats.median(dec.map(_._2)) * 1e9 / postings, "ns")
  }

  def jvmLayers(out: Outcome, jitAtSetup: Double): Unit = {
    out.put("jvm.gc_s", Common.gcSeconds(), "s")
    out.put("jvm.jit_warm_s", jitAtSetup, "s")
  }

  /** Plain terms of a rewritten query (the dictionary lookups it needs). */
  def termsOf(q: Query): Seq[String] = q match {
    case TermQ(t, _) => Seq(t)
    case BoolQ(m, s, n, _, _) => (m ++ s ++ n).flatMap(termsOf)
    case PhraseQ(ts, _, _, _) => ts
    case _ => Nil
  }

  // ------------------------------------------------------- warm_search

  /** Builds warm_search's positions-enabled index of the fixed table, as
    * generation 0 of a streaming root, into `cache` (via a sibling temporary
    * directory, so a killed build leaves no half index behind). */
  def prepareSearch(ctx: Ctx, cache: String): Unit = {
    val tmp = s"$cache.tmp"
    Common.rmrf(tmp)
    val corpus = Gen.corpus(SearchTableSeed, GenParams(SearchDocs))
    Common.writeTable(ctx.spark, corpus.rows, s"${ctx.work}/input")
    StreamingIndexer.appendBatch(ctx.spark, Common.readTable(ctx.spark, s"${ctx.work}/input"),
      tmp, 0L, ctx.cores, indexPositions = true)
    require(new java.io.File(tmp).renameTo(new java.io.File(cache)), s"could not move $tmp")
  }

  /** Opens the served index (generation 0 of `cache`), reads its collection
    * stats and sends one warm-up query. Returns the searcher and the wall
    * seconds of the reader open. */
  def openServed(ctx: Ctx, cache: String): (Searcher, Double) = {
    val (reader, openS) = Common.timed(ctx.tracer.span("search.reader_open") {
      val rd = new IndexReader(ctx.spark, StreamingIndexer.genDir(cache, 0L))
      rd.collectionStats
      rd
    })
    val searcher = new Searcher(reader)
    searcher.search(TermQ("val"), TopK)
    (searcher, openS)
  }

  /** Untimed check pass (it also warms every query): each query's top-k
    * equals `searchOracle`. Returns the oracle's top-k per query. */
  def oraclePass(out: Outcome, searcher: Searcher,
                 pool: IndexedSeq[BenchQuery]): Map[BenchQuery, Array[ScoreDoc]] =
    pool.map { bq =>
      val want = searcher.searchOracle(bq.q, TopK)
      out.check(same(searcher.search(bq.q, TopK), want),
        s"top-$TopK of ${bq.q} differs from searchOracle")
      bq -> want
    }.toMap

  /** One client, closed loop, over the positions-enabled index of the fixed
    * table (built once per engine build by [[prepareSearch]]). A set-up
    * opens the reader and warms it; the table itself is generated once
    * before, outside the set-up, for the query draw and the checks. The loop
    * sends whole rounds of the pool's classes, so every run has the same
    * class mix. A traced run then measures the other layers: the query
    * path, the update rounds and, last, the build layer (it leaves the JVM
    * on the narrow leg's CPUs). */
  def warmSearch(ctx: Ctx, out: Outcome, cache: String, narrowCpus: Seq[Int]): Ctx = {
    val p = GenParams(SearchDocs)
    out.info("input") = p.fields
    out.info("table_seed") = SearchTableSeed
    val corpus = Gen.corpus(SearchTableSeed, p)
    var searcher: Searcher = null
    val opens = mutable.ArrayBuffer.empty[Double]
    setupMedian(out, (0 until Setups).map { _ =>
      measure {
        val (s, openS) = openServed(ctx, cache)
        searcher = s
        opens += openS
      }
    })
    val jit = Common.jitSeconds()

    val pool = Gen.queryPool(ctx.seed, corpus.rows, PerClass)
    val expected = oraclePass(out, searcher, pool)
    out.info("distinct_queries") = pool.size
    val classes = pool.map(_.cls).distinct
    val stream = Gen.queryStream(ctx.seed, pool, 1 << 16)
    ctx.tracer.reset(); ctx.listener.reset()
    val hits = mutable.HashMap.empty[Int, Int]
    val Timed(plain, traced) = timedLoop(ctx, ctx.seconds, block = classes.size) { i =>
      val bq = stream(i % stream.length)
      val got = ctx.tracer.inGroup(s"q$i")(ctx.tracer.span("search.query")(
        searcher.search(bq.q, TopK)))
      out.check(same(got, expected(bq)), s"timed top-$TopK of ${bq.q} differs")
      hits(i) = got.length
    }
    def cls(s: Sample) = stream(s.i % stream.length).cls
    val byClass = plain.groupBy(cls)
    out.put("search_p50_s", Stats.median(plain.map(_.wallS)), "s")
    out.put("latency_p50_s", Stats.median(plain.map(_.wallS)), "s")
    out.put("throughput_per_s", plain.size / plain.map(_.wallS).sum, "1/s")
    // every class weighs the same, whatever the number of rounds
    out.put("op_cpu_s", classes.map(c => Stats.median(byClass(c).map(_.cpuS))).sum / classes.size,
      "s")
    classes.foreach(c => out.put(s"search.$c.p50_s", Stats.median(byClass(c).map(_.wallS)), "s"))
    out.info("search_samples") = plain.size
    out.info("search_quartiles_s") = Stats.quartiles(plain.map(_.wallS))
    if (!ctx.trace) ctx
    else {
      out.put("trace.overhead_ratio",
        Stats.median(traced.map(_.wallS)) / Stats.median(plain.map(_.wallS)), "ratio")
      out.info("trace_overhead_s") =
        Stats.median(traced.map(_.wallS)) - Stats.median(plain.map(_.wallS))
      searchLayers(ctx, out, traced.map(s => (cls(s), s.wallS, hits(s.i))))
      out.put("search.reader_open_s", Stats.median(opens.toSeq), "s")
      queryPathLayers(ctx, out, searcher, pool)
      microLayers(corpus.rows, out)
      jvmLayers(out, jit)
      updateRounds(ctx, out, cache, corpus, pool)
      BulkBuild.probe(ctx, out, narrowCpus)
    }
  }

  /** The serving layers inside a traced `bulk_build` run: the served index
    * opened once, the run's query pool checked against `searchOracle`,
    * `ProbeRounds` traced rounds of it, then the near-dup pass over the
    * first rows of its table. (The update rounds run in traced
    * `warm_search` runs: each traced run gets one of the two, so both stay
    * well inside a run's time limit.) */
  def serveLayers(ctx: Ctx, out: Outcome, cache: String): Unit = {
    val corpus = Gen.corpus(SearchTableSeed, GenParams(SearchDocs))
    val (searcher, openS) = openServed(ctx, cache)
    val pool = Gen.queryPool(ctx.seed, corpus.rows, PerClass)
    val expected = oraclePass(out, searcher, pool)
    ctx.tracer.reset(); ctx.listener.reset()
    val qs = (0 until ProbeRounds * pool.size).map { i =>
      val bq = pool(i % pool.size)
      val (got, s) = Common.timed(ctx.tracer.inGroup(s"q$i")(ctx.tracer.span("search.query")(
        searcher.search(bq.q, TopK))))
      out.check(same(got, expected(bq)), s"probe top-$TopK of ${bq.q} differs")
      (bq.cls, s, got.length)
    }
    searchLayers(ctx, out, qs)
    out.put("search.reader_open_s", openS, "s")
    queryPathLayers(ctx, out, searcher, pool)
    nearDup(ctx, out, corpus)
  }

  /** graft.search metrics of the traced queries `qs` (class, wall seconds,
    * hits), whose `search.query` spans are the tracer's. */
  def searchLayers(ctx: Ctx, out: Outcome, qs: Seq[(String, Double, Int)]): Unit = {
    ctx.drain()
    val spans = ctx.tracer.all.filter(_.name == "search.query")
    val works = spans.map(s => ctx.listener.workOf(s.id))
    val n = spans.size.toDouble
    val taskS = works.map(_.taskNs).sum / 1e9
    val records = works.map(_.recordsRead).sum
    out.put("search_p50_s", Stats.median(qs.map(_._2)), "s")
    qs.groupBy(_._1).foreach { case (c, v) => out.put(s"search.$c.p50_s", Stats.median(v.map(_._2)), "s") }
    out.put("search.jobs_per_query", works.map(_.jobs).sum / n, "count")
    out.put("search.tasks_per_query", works.map(_.tasks).sum / n, "count")
    out.put("search.task_s_per_query", taskS / n, "s")
    out.put("search.records_read_per_query", records / n, "count")
    out.put("search.hits_per_record_read", qs.map(_._3).sum.toDouble / math.max(1L, records),
      "ratio")
    out.put("search.sched_overhead_s_per_query",
      (spans.map(_.durNs).sum / 1e9 - taskS / ctx.cores) / n, "s")
    out.info("spans") = Common.spanRows(ctx.tracer.all, ctx.listener)
  }

  /** Per-call layers of the query path, once per distinct query. */
  def queryPathLayers(ctx: Ctx, out: Outcome, searcher: Searcher,
                      pool: IndexedSeq[BenchQuery]): Unit = {
    val rewrites = pool.map(bq => Common.timed(ctx.tracer.span("search.rewrite")(
      searcher.rewrite(bq.q))))
    val statsS = rewrites.map { case (rq, _) => Common.timed(ctx.tracer.span("search.term_stats")(
      searcher.reader.termStats(termsOf(rq))))._2 }
    out.put("search.rewrite_s", Stats.median(rewrites.map(_._2)), "s")
    out.put("search.term_stats_s", Stats.median(statsS), "s")
  }

  // ------------------------------------------------- update-while-serving

  /** Traced update rounds on a copy of the served index (generation 0 of
    * `cache`): `updateDocuments` with a batch
    * mixing replacements and new paths, `maintainTiered`, a reopen of the
    * multi-generation reader, then queries. Checks that the round's marker
    * term returns exactly the batch, that replaced versions are never
    * returned, and that every top-k equals `searchOracle`. */
  def updateRounds(ctx: Ctx, out: Outcome, cache: String, corpus: Corpus,
                   queries: IndexedSeq[BenchQuery]): Unit = {
    import ctx.spark.implicits._
    val root = s"${ctx.work}/nrt"
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(cache), new java.io.File(root))
    val pool = queries.filter(_.cls != "phrase")
    val p = GenParams(corpus.rows.size)
    def open(): Searcher = {
      val gens = StreamingIndexer.generations(ctx.spark, root)
      val rd = IndexReader.multi(ctx.spark, gens.map(StreamingIndexer.genDir(root, _)))
      rd.collectionStats
      new Searcher(rd)
    }
    var searcher = open()
    // path -> docIds indexed under it; a replaced path's old ids become dead
    val pathIds = mutable.HashMap.empty[String, Set[Long]]
    searcher.reader.docsTable.select("path", "docId").as[(String, Long)].collect()
      .groupBy(_._1).foreach { case (path, ids) => pathIds(path) = ids.map(_._2).toSet }
    val dead = mutable.HashSet.empty[Long]
    val stream = Gen.queryStream(ctx.seed + 1, pool, QueriesPerRound * UpdateRounds)
    val refresh = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    var merges = 0
    var mergedBytes = 0L
    var maxGens = 1
    ctx.tracer.reset(); ctx.listener.reset()
    (1 to UpdateRounds).foreach { r =>
      ctx.tracer.inGroup(s"round$r") {
        val batch = Gen.updateBatch(ctx.seed, r, corpus.rows, UpdateReplace, UpdateInsert, p)
        Common.writeTable(ctx.spark, batch, s"${ctx.work}/batch")
        val ds = Common.readTable(ctx.spark, s"${ctx.work}/batch")
        val (hits, s) = Common.timed {
          ctx.tracer.span("streaming.update")(StreamingIndexer.updateDocuments(ctx.spark, ds,
            root, r.toLong, ctx.cores))
          val done = ctx.tracer.span("merge")(StreamingIndexer.maintainTiered(ctx.spark, root,
            Merge, ctx.cores))
          merges += done.size
          done.foreach(m => mergedBytes += Common.du(StreamingIndexer.genDir(root, m.min)))
          searcher = ctx.tracer.span("nrt.reader_open")(open())
          ctx.tracer.span("search.query")(searcher.search(TermQ(Gen.marker(r)), batch.size + TopK))
        }
        refresh += s
        maxGens = math.max(maxGens, StreamingIndexer.generations(ctx.spark, root).size)
        val shas = batch.map(_.sha256)
        val now = searcher.reader.docsTable.where(col("sha256").isin(shas: _*))
          .select("path", "docId").as[(String, Long)].collect()
        out.check(now.length == batch.size && hits.map(_.docId).toSet == now.map(_._2).toSet,
          s"round $r: marker search returned ${hits.length} docs, batch has ${batch.size}")
        batch.map(_.path).distinct.foreach(path => dead ++= pathIds.getOrElse(path, Set.empty))
        now.groupBy(_._1).foreach { case (path, ids) => pathIds(path) = ids.map(_._2).toSet }
        now.foreach(x => dead -= x._2)
        stream.slice(QueriesPerRound * (r - 1), QueriesPerRound * r).foreach { bq =>
          val (got, qs) = Common.timed(ctx.tracer.span("search.query")(searcher.search(bq.q, TopK)))
          lat += qs
          out.check(got.forall(h => !dead.contains(h.docId)),
            s"round $r: ${bq.q} returned a replaced version")
          out.check(same(got, searcher.searchOracle(bq.q, TopK)),
            s"round $r: top-$TopK of ${bq.q} differs from searchOracle")
        }
      }
    }
    ctx.drain()
    val ls = Common.layers(ctx.tracer.all, ctx.listener)
    def per(name: String) = ls.get(name).map(l => l.wallS / l.count).getOrElse(0.0)
    out.put("refresh_p50_s", Stats.median(refresh.toSeq), "s")
    out.put("nrt_search_p50_s", Stats.median(lat.toSeq), "s")
    out.put("streaming.append_s", per("streaming.update"), "s")
    out.put("streaming.jobs_per_append", ls.get("streaming.update")
      .map(l => l.work.jobs.toDouble / l.count).getOrElse(0.0), "count")
    out.put("deletes.tombstones", StreamingIndexer.generations(ctx.spark, root).map(g =>
      graft.build.Deletes.tombstones(ctx.spark, StreamingIndexer.genDir(root, g)).count()).sum,
      "count")
    out.put("merge.s", per("merge"), "s")
    out.put("merge.count", merges, "count")
    out.put("merge.bytes_rewritten", mergedBytes, "B")
    out.put("generations.live_max", maxGens, "count")
    out.put("nrt.reader_open_s", per("nrt.reader_open"), "s")
    out.info("update") = ListMap("rounds" -> UpdateRounds, "replace" -> UpdateReplace,
      "insert" -> UpdateInsert, "merge_max_at_once" -> Merge.maxMergeAtOnce,
      "merge_segs_per_tier" -> Merge.segsPerTier)
    out.info("spans_update") = Common.spanRows(ctx.tracer.all, ctx.listener)
  }

  // ---------------------------------------------------------- near-dup

  /** Shingle sets as the dedup pipeline defines them: w-token windows of
    * `[a-z0-9_]+` tokens of the lowercased text. */
  def shingles(text: String, w: Int = 3): Set[String] = {
    val ts = "[a-z0-9_]+".r.findAllIn(text.toLowerCase).toArray
    if (ts.length < w) Set.empty
    else (0 to ts.length - w).map(i => ts.slice(i, i + w).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else a.intersect(b).size.toDouble / a.union(b).size

  /** LSH band collisions of the parity MinHash, recomputed independently:
    * dense 1-based shingle ids in sorted order, affine hashes, bands. */
  def lshCollide(sets: IndexedSeq[Set[String]]): (Int, Int) => Boolean = {
    val ids = sets.flatten.distinct.sorted.zipWithIndex.map { case (s, i) => s -> (i + 1L) }.toMap
    val k = Dedup.NumBands * Dedup.RowsPerBand
    val sigs = sets.map { s =>
      if (s.isEmpty) null
      else Array.tabulate(k)(h => s.iterator.map(x =>
        (ids(x) * Dedup.MinHashA(h) + Dedup.MinHashB(h)) % Dedup.MinHashP).min)
    }
    (a, b) => sigs(a) != null && sigs(b) != null && (0 until Dedup.NumBands).exists { band =>
      (0 until Dedup.RowsPerBand).forall { r =>
        val h = band * Dedup.RowsPerBand + r
        sigs(a)(h) == sigs(b)(h)
      }
    }
  }

  /** Traced near-dup pass over the first `DupDocs` rows: n-gram Jaccard and
    * MinHash-LSH pairs, each returned pair's Jaccard recomputed, and every
    * planted fork above the threshold found (MinHash: every one whose
    * signatures share an LSH band). */
  def nearDup(ctx: Ctx, out: Outcome, corpus: Corpus): Unit = {
    import ctx.spark.implicits._
    val rows = corpus.rows.take(DupDocs)
    val input = s"${ctx.work}/dup-input"
    Common.writeTable(ctx.spark, rows, input)
    val docs = ctx.spark.read.parquet(input).select(
      xxhash64(col("repo"), col("path"), col("commit")).as("doc_id"), col("content").as("text"))
    val keyed = ctx.spark.read.parquet(input).select(col("repo"), col("path"), col("commit"),
      xxhash64(col("repo"), col("path"), col("commit"))).as[(String, String, String, Long)]
      .collect().map(r => (r._1, r._2, r._3) -> r._4).toMap
    out.check(keyed.values.toSet.size == rows.size, "doc_id hash collision in the near-dup input")
    val idOf = rows.map(r => keyed((r.repo, r.path, r.commit)))
    val row = idOf.zipWithIndex.toMap
    val sets = rows.map(r => shingles(r.content))
    def pairs(df: org.apache.spark.sql.DataFrame): Array[(Long, Long, Double)] =
      df.select("a", "b", "jac").as[(Long, Long, Double)].collect().sortBy(x => (x._1, x._2))
    ctx.tracer.reset(); ctx.listener.reset()
    val (ng, ngS) = Common.timed(ctx.tracer.span("dedup.ngram")(
      pairs(Dedup.ngramJaccardPairs(docs, 3, DupThreshold))))
    val (mh, mhS) = Common.timed(ctx.tracer.span("dedup.minhash")(
      pairs(Dedup.minhashNearDups(docs, DupThreshold))))
    Seq("ngram" -> ng, "minhash" -> mh).foreach { case (m, ps) =>
      ps.foreach { case (a, b, jac) =>
        val j = jaccard(sets(row(a)), sets(row(b)))
        out.check(a < b && j >= DupThreshold && math.abs(j - jac) < 1e-9,
          s"$m pair ($a,$b) reports jaccard $jac, recomputed $j")
      }
    }
    val collide = lshCollide(sets)
    val ngSet = ng.map(x => (x._1, x._2)).toSet
    val mhSet = mh.map(x => (x._1, x._2)).toSet
    val planted = corpus.forks.filter(f => f._2 < rows.size).map { case (o, f) =>
      (o, f, math.min(idOf(o), idOf(f)), math.max(idOf(o), idOf(f)), jaccard(sets(o), sets(f)))
    }.filter(_._5 >= DupThreshold)
    planted.foreach { case (o, f, a, b, j) =>
      out.check(ngSet.contains((a, b)), s"ngram missed planted fork ($o,$f) jaccard $j")
      if (collide(o, f))
        out.check(mhSet.contains((a, b)), s"minhash missed LSH-colliding planted fork ($o,$f)")
    }
    val ds = Dedup.docShingles(docs)
    val cands = ctx.tracer.span("dedup.candidates")(Dedup.candidatePairs(
      Dedup.lshBuckets(Dedup.minhashSignatures(ds, Dedup.shingleDict(ds)))).count())
    ctx.drain()
    val ls = Common.layers(ctx.tracer.all, ctx.listener)
    Seq(("ngram", ng.length, ngS), ("minhash", mh.length, mhS)).foreach { case (m, n, s) =>
      val l = ls(s"dedup.$m")
      out.put(s"${m}_dup_docs_per_s", rows.size / s, "1/s")
      out.put(s"dedup.$m.wall_s", l.wallS, "s")
      out.put(s"dedup.$m.task_s", l.work.taskNs / 1e9, "s")
      out.put(s"dedup.$m.shuffle_write_bytes", l.work.shuffleWriteBytes, "B")
      out.put(s"dedup.$m.pairs", n, "count")
    }
    out.put("dedup.minhash.candidate_pairs", cands, "count")
    out.put("dedup.minhash.pairs_per_candidate",
      if (cands == 0) 0.0 else mh.length.toDouble / cands, "ratio")
    out.put("dedup.planted_recall", if (planted.isEmpty) 1.0
      else planted.count(x => mhSet.contains((x._3, x._4))).toDouble / planted.size, "ratio")
    out.info("dedup") = ListMap("docs" -> rows.size, "threshold" -> DupThreshold,
      "planted_above_threshold" -> planted.size)
    out.info("spans_dedup") = Common.spanRows(ctx.tracer.all, ctx.listener)
  }
}
