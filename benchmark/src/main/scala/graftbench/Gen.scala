package graftbench

import graft.corpus.{CorpusGen, SourceFile}
import graft.search.{BoolQ, PhraseQ, PrefixQ, Query, TermQ}

import java.util.SplittableRandom
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** The stated properties of a generated `input_hint` table. Every rate is
  * recorded in each result, so a number can be read against its input. */
final case class GenParams(
    docs: Int,
    vocab: Int = 20000,
    zipfS: Double = 1.1,
    boilerplateShare: Double = 0.35,
    forkRate: Double = 0.05,
    forkEdits: Int = 1,
    minLines: Int = 8,
    maxLines: Int = 40) {
  def fields: ListMap[String, Any] = ListMap("docs" -> docs, "vocab" -> vocab,
    "zipf_s" -> zipfS, "boilerplate_share" -> boilerplateShare,
    "fork_rate" -> forkRate, "fork_edits" -> forkEdits,
    "lines_min" -> minLines, "lines_max" -> maxLines)
}

/** A generated table plus the facts the checks need: which rows are
  * planted forks of which originals. */
final case class Corpus(rows: IndexedSeq[SourceFile], forks: IndexedSeq[(Int, Int)])

/** One query of the stream with its class (the per-class latency key). */
final case class BenchQuery(cls: String, q: Query)

/** Seeded generator of source-file-like tables of the `(repo, path, commit,
  * lang, content, sha256)` shape. Everything is a pure function of the seed:
  * the same seed gives the same rows, queries and update batches.
  *
  *   - identifiers come from a seeded vocabulary drawn Zipf(`zipfS`), so the
  *     dictionary has a few very hot terms and a long tail;
  *   - a `boilerplateShare` of files opens with one of four license headers;
  *   - a `forkRate` of files are forks: an earlier file copied into another
  *     repo with `forkEdits` identifiers changed. */
object Gen {
  val Langs: Array[String] = Array("java", "scala", "py", "go", "js")

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "ta", "vo",
    "zen", "pa", "qui", "do", "fe", "gri", "hu", "jo", "bel", "cor", "dax",
    "em", "fin", "gal", "hex", "ix", "jun", "kor", "lum", "mor", "nix",
    "op", "pix", "ram", "sol", "tor", "ul", "vex", "wen", "yar", "zul")

  private val Words = Array("update", "cache", "value", "buffer", "index",
    "reader", "writer", "state", "token", "query", "result", "handle",
    "merge", "count", "stream", "config", "error", "check", "parse", "build")

  val Licenses: Array[String] = Array(
    "Licensed under the Apache License Version 2.0 you may not use this " +
      "file except in compliance with the License You may obtain a copy of " +
      "the License at apache org licenses LICENSE 2.0 Unless required by " +
      "applicable law or agreed to in writing software distributed",
    "Permission is hereby granted free of charge to any person obtaining a " +
      "copy of this software and associated documentation files to deal in " +
      "the Software without restriction including without limitation the " +
      "rights to use copy modify merge publish distribute sublicense",
    "Redistribution and use in source and binary forms with or without " +
      "modification are permitted provided that the following conditions " +
      "are met Redistributions of source code must retain the above " +
      "copyright notice this list of conditions and the following disclaimer",
    "This program is free software you can redistribute it and or modify it " +
      "under the terms of the GNU General Public License as published by the " +
      "Free Software Foundation either version 3 of the License or at your " +
      "option any later version This program is distributed in the hope")

  /** Vocabulary: `n` distinct camelCase identifiers (distinct after
    * lowercasing, since the analyzer lowercases). */
  def vocabulary(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = mutable.HashSet.empty[String]
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val parts = 2 + rng.nextInt(3)
      val sb = new StringBuilder
      var p = 0
      while (p < parts) {
        val s = Syllables(rng.nextInt(Syllables.length))
        sb ++= (if (p == 0) s else s.capitalize)
        p += 1
      }
      val w = sb.toString
      if (seen.add(w.toLowerCase)) { out(i) = w; i += 1 }
    }
    out
  }

  /** Cumulative Zipf(s) weights over ranks 0..n-1. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val cdf = new Array[Double](n)
    var acc = 0.0
    var r = 0
    while (r < n) { acc += 1.0 / math.pow(r + 1.0, s); cdf(r) = acc; r += 1 }
    r = 0
    while (r < n) { cdf(r) /= acc; r += 1 }
    cdf
  }

  def sampleRank(rng: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  private final class Body(rng: SplittableRandom, vocab: Array[String],
                           cdf: Array[Double]) {
    def id(): String = vocab(sampleRank(rng, cdf))
    def line(): String = rng.nextInt(6) match {
      case 0 => s"val ${id()} = ${id()}(${id()}, ${id()})"
      case 1 => s"def ${id()}(${id()}: Int): Int = ${id()}(${id()})"
      case 2 => s"if (${id()} != null) return ${id()}(${id()})"
      case 3 => s"for (${id()} <- ${id()}) ${id()} += ${id()}"
      case 4 => s"${id()} = new ${id().capitalize}(${id()})"
      case _ => "// " + Seq.fill(4)(Words(rng.nextInt(Words.length))).mkString(" ") +
        s" ${id()}"
    }
    def lines(n: Int): Seq[String] = Seq.fill(n)(line())
  }

  private def hex40(rng: SplittableRandom): String =
    f"${rng.nextLong()}%016x${rng.nextLong()}%016x${rng.nextInt()}%08x"

  /** Replace `edits` identifier occurrences of `content` (outside the
    * license header) by fresh vocabulary draws. */
  private def fork(rng: SplittableRandom, content: String, edits: Int,
                   body: Body): String = {
    val lines = content.split("\n", -1)
    val first = if (lines.head.startsWith("/* ")) 1 else 0
    var e = 0
    var guard = 0
    while (e < edits && guard < 100) {
      guard += 1
      val li = first + rng.nextInt(math.max(1, lines.length - 1 - first))
      val toks = lines(li).split(" ")
      val ti = rng.nextInt(toks.length)
      val t = toks(ti)
      val core = t.takeWhile(_.isLetter)
      if (core.length >= 4) {
        toks(ti) = body.id() + t.drop(core.length)
        lines(li) = toks.mkString(" ")
        e += 1
      }
    }
    lines.mkString("\n")
  }

  /** The seeded table. Forks copy an earlier original into another repo. */
  def corpus(seed: Long, p: GenParams): Corpus = {
    val rng = new SplittableRandom(seed)
    val vocab = vocabulary(rng.split(), p.vocab)
    val cdf = zipfCdf(p.vocab, p.zipfS)
    val body = new Body(rng.split(), vocab, cdf)
    val meta = rng.split()
    val rows = new Array[SourceFile](p.docs)
    val forks = mutable.ArrayBuffer.empty[(Int, Int)]
    val originals = mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < p.docs) {
      val lang = Langs(meta.nextInt(Langs.length))
      val isFork = originals.nonEmpty && meta.nextDouble() < p.forkRate
      val row = if (isFork) {
        val o = originals(meta.nextInt(originals.length))
        val src = rows(o)
        val c = fork(meta, src.content, p.forkEdits, body)
        forks += ((o, i))
        SourceFile(s"fork-$i", src.path, hex40(meta), src.lang, c, CorpusGen.sha256Hex(c))
      } else {
        val sb = new StringBuilder
        if (meta.nextDouble() < p.boilerplateShare)
          sb ++= "/* " ++= Licenses(meta.nextInt(Licenses.length)) ++= " */\n"
        sb ++= body.lines(p.minLines + meta.nextInt(p.maxLines - p.minLines + 1))
          .mkString("\n")
        val c = sb.toString
        originals += i
        SourceFile(s"repo-${meta.nextInt(16)}", f"src/${vocab(i % 97)}/F$i%06d.$lang",
          hex40(meta), lang, c, CorpusGen.sha256Hex(c))
      }
      rows(i) = row
      i += 1
    }
    Corpus(rows.toIndexedSeq, forks.toIndexedSeq)
  }

  /** Update batches for `nrt_update`: round r replaces `replace` existing
    * paths (new content) and adds `insert` new paths. Every doc of round r
    * carries the marker term [[marker]](r), unique to that batch. */
  def updateBatch(seed: Long, round: Int, base: IndexedSeq[SourceFile],
                  replace: Int, insert: Int, p: GenParams): IndexedSeq[SourceFile] = {
    val rng = new SplittableRandom(seed * 1000003L + round)
    val vocab = vocabulary(new SplittableRandom(seed).split(), p.vocab)
    val body = new Body(rng.split(), vocab, zipfCdf(p.vocab, p.zipfS))
    val picked = mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(replace, base.size)) picked += rng.nextInt(base.size)
    def make(repo: String, path: String, lang: String): SourceFile = {
      val c = s"// ${marker(round)}\n" + body.lines(p.minLines + rng.nextInt(8)).mkString("\n")
      SourceFile(repo, path, hex40(rng), lang, c, CorpusGen.sha256Hex(c))
    }
    picked.toIndexedSeq.map { i => val b = base(i); make(b.repo, b.path, b.lang) } ++
      (0 until insert).map { j =>
        val lang = Langs(rng.nextInt(Langs.length))
        make(s"repo-${rng.nextInt(16)}", f"src/new/R$round%04d_$j%03d.$lang", lang)
      }
  }

  def marker(round: Int): String = s"mkr${round}zq"

  /** Analyzed terms of a row, with positions, as the index sees them. */
  def analyzed(row: SourceFile): Array[graft.analysis.Token] =
    graft.analysis.Analyzer.forLang(row.lang).analyze(row.content).tokens

  /** A seeded pool of distinct queries over the table's own dictionary,
    * `perClass` of each class:
    *   - term_head: one of the 30 highest-df terms;
    *   - term_tail: a term of df 1-3;
    *   - or: 2-4 terms mixing head and mid ranks (block-max WAND path);
    *   - and: 2 mid-rank terms, both required (generic scoring path);
    *   - phrase: 2-3 adjacent tokens of a random doc (positions path);
    *   - prefix: the first 4 letters of a mid-rank term (dictionary range). */
  def queryPool(seed: Long, rows: IndexedSeq[SourceFile], perClass: Int): IndexedSeq[BenchQuery] = {
    val rng = new SplittableRandom(seed ^ 0x5eedL)
    val df = mutable.HashMap.empty[String, Int]
    val toks = rows.map(analyzed)
    toks.foreach(_.map(_.term).distinct.foreach(t => df(t) = df.getOrElse(t, 0) + 1))
    val byDf = df.toIndexedSeq.sortBy { case (t, d) => (-d, t) }.map(_._1)
    val head = byDf.take(30)
    val mid = byDf.slice(30, math.max(31, byDf.length / 4))
    val tail = byDf.filter(t => df(t) <= 3).sorted
    def pick(xs: IndexedSeq[String]): String = xs(rng.nextInt(xs.length))
    def phrase(): Query = {
      var q: Query = null
      while (q == null) {
        val t = toks(rng.nextInt(toks.length))
        val n = 2 + rng.nextInt(2)
        if (t.length > n) {
          val s = rng.nextInt(t.length - n)
          val w = t.slice(s, s + n)
          if (w.last.position - w.head.position == n - 1) q = PhraseQ(w.map(_.term).toSeq)
        }
      }
      q
    }
    val pool = mutable.LinkedHashSet.empty[BenchQuery]
    def fill(cls: String)(mk: => Query): Unit = {
      var added = 0
      var guard = 0
      while (added < perClass && guard < perClass * 50) {
        guard += 1
        if (pool.add(BenchQuery(cls, mk))) added += 1
      }
    }
    fill("term_head")(TermQ(pick(head)))
    fill("term_tail")(TermQ(pick(tail)))
    fill("or")(BoolQ(should = Seq.fill(2 + rng.nextInt(3))(
      TermQ(if (rng.nextBoolean()) pick(head) else pick(mid))).distinct))
    fill("and")(BoolQ(must = Seq(TermQ(pick(mid)), TermQ(pick(head)))))
    fill("phrase")(phrase())
    fill("prefix")(PrefixQ(pick(mid.filter(_.length >= 6)).take(4)))
    pool.toIndexedSeq
  }

  /** A seeded stream of `n` queries from `pool`: the classes take turns in
    * a fixed order (so every run has the same class mix), the query within
    * a class is a seeded draw. */
  def queryStream(seed: Long, pool: IndexedSeq[BenchQuery], n: Int): IndexedSeq[BenchQuery] = {
    val rng = new SplittableRandom(seed ^ 0x57eaL)
    val byClass = pool.groupBy(_.cls)
    val order = pool.map(_.cls).distinct
    IndexedSeq.tabulate(n) { i =>
      val c = byClass(order(i % order.length))
      c(rng.nextInt(c.length))
    }
  }
}
