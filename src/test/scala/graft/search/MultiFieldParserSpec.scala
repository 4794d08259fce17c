package graft.search

import org.scalatest.funsuite.AnyFunSuite
import graft.analysis.Analyzer

/** Precedence-parser vectors (TestPrecedenceQueryParser.cs:218-271,
  * translated to the Query ADT) + the MultiFieldQueryParser expansion. */
class MultiFieldParserSpec extends AnyFunSuite {

  private val p = new QueryParser(Analyzer.noStop)

  test("precedence — AND binds tighter than OR") {
    assert(p.parsePrecedence("a AND b") == BoolQ(Seq(TermQ("a"), TermQ("b"))))
    assert(p.parsePrecedence("(a AND b)") == BoolQ(Seq(TermQ("a"), TermQ("b"))))
    assert(p.parsePrecedence("c OR (a AND b)") ==
      BoolQ(Nil, Seq(TermQ("c"), BoolQ(Seq(TermQ("a"), TermQ("b")))), Nil))
    assert(p.parsePrecedence("a AND b OR c AND d") ==
      BoolQ(Nil, Seq(
        BoolQ(Seq(TermQ("a"), TermQ("b"))),
        BoolQ(Seq(TermQ("c"), TermQ("d")))), Nil))
    // the CLASSIC parser flattens the same input
    assert(p.parse("a AND b OR c AND d") !=
      p.parsePrecedence("a AND b OR c AND d"))
  }

  test("precedence — modifiers override the AND default") {
    assert(p.parsePrecedence("a AND NOT b") ==
      BoolQ(Seq(TermQ("a")), Nil, Seq(TermQ("b"))))
    assert(p.parsePrecedence("a AND -b") ==
      BoolQ(Seq(TermQ("a")), Nil, Seq(TermQ("b"))))
    assert(p.parsePrecedence("a && ! b") ==
      BoolQ(Seq(TermQ("a")), Nil, Seq(TermQ("b"))))
    assert(p.parsePrecedence("a OR !b") ==
      BoolQ(Nil, Seq(TermQ("a")), Seq(TermQ("b"))))
    assert(p.parsePrecedence("+term -other term") ==
      BoolQ(Seq(TermQ("term")), Seq(TermQ("term")), Seq(TermQ("other"))))
  }

  test("precedence — nested groups") {
    // ((a OR b) AND NOT c) OR d  →  (+(a b) -c) d
    assert(p.parsePrecedence("((a OR b) AND NOT c) OR d") ==
      BoolQ(Nil, Seq(
        BoolQ(Seq(BoolQ(Nil, Seq(TermQ("a"), TermQ("b")), Nil)), Nil, Seq(TermQ("c"))),
        TermQ("d")), Nil))
    // group boost survives
    assert(p.parsePrecedence("(a AND b)^2") ==
      BoolQ(Seq(TermQ("a"), TermQ("b")), boost = 2f))
  }

  test("multi-field — unfielded clause expands across fields") {
    val mf = new MultiFieldQueryParser(Seq("content", "path"), Analyzer.noStop)
    assert(mf.parse("merge") ==
      BoolQ(Nil, Seq(TermQ("merge"), TermQ("path:merge")), Nil))
    // per-field boosts multiply in
    val mfb = new MultiFieldQueryParser(Seq("content", "path"), Analyzer.noStop,
      boosts = Map("path" -> 3f))
    assert(mfb.parse("merge") ==
      BoolQ(Nil, Seq(TermQ("merge"), TermQ("path:merge", 3f)), Nil))
    // prefix/fuzzy keep shape; phrase becomes the exact keyword value
    assert(mf.parse("mer*") == BoolQ(Nil,
      Seq(PrefixQ("mer"), PrefixQ("path:mer")), Nil))
    assert(mf.parse("\"a b\"") == BoolQ(Nil,
      Seq(PhraseQ(Seq("a", "b"), raw = Some("a b")), TermQ("path:a b")), Nil))
  }

  test("multi-field — keyword phrase keeps the RAW quoted text (KeywordAnalyzer)") {
    // A lowercasing/stopping content analyzer must not leak into the
    // keyword value: "The README" analyzes to ["readme"] for content but
    // the path branch matches the exact stored value.
    val mf = new MultiFieldQueryParser(Seq("content", "path"), Analyzer.standard)
    val q = mf.parse("\"The README\"").asInstanceOf[BoolQ]
    assert(q.should.contains(TermQ("path:The README")))
    // hand-built PhraseQ without raw still rewrites from analyzed terms
    assert(MultiFieldQueryParser.prefixField(PhraseQ(Seq("a", "b")), "path")
      .contains(TermQ("path:a b")))
  }

  test("multi-field — inexpressible MUST clause fails the whole field branch") {
    // Dropping a required clause would broaden the branch; the rewrite
    // must return None for the whole BoolQ instead.
    val inexpressible = MatchAllQ()
    val q = BoolQ(Seq(TermQ("a"), inexpressible), Seq(TermQ("b")), Nil)
    assert(MultiFieldQueryParser.prefixField(q, "path").isEmpty)
    // a SHOULD drop only narrows the branch: fine to drop
    val q2 = BoolQ(Seq(TermQ("a")), Seq(inexpressible, TermQ("b")), Nil)
    assert(MultiFieldQueryParser.prefixField(q2, "path")
      .contains(BoolQ(Seq(TermQ("path:a")), Seq(TermQ("path:b")), Nil)))
  }

  test("multi-field — inexpressible MUST_NOT clause fails the whole field branch") {
    // dropping an exclusion would broaden the branch: None, like MUST
    val q = BoolQ(Seq(TermQ("a")), Nil, Seq(MatchAllQ()))
    assert(MultiFieldQueryParser.prefixField(q, "path").isEmpty)
    val q2 = BoolQ(Seq(TermQ("a")), Nil, Seq(TermQ("b")))
    assert(MultiFieldQueryParser.prefixField(q2, "path")
      .contains(BoolQ(Seq(TermQ("path:a")), Nil, Seq(TermQ("path:b")))))
  }

  test("multi-field statics — parseEach and parseWithFlags") {
    val q = MultiFieldQueryParser.parseEach(
      Seq("merge", "scala"), Seq("content", "lang"), Analyzer.noStop)
    assert(q == BoolQ(Nil, Seq(TermQ("merge"), TermQ("lang:scala")), Nil))
    val qf = MultiFieldQueryParser.parseWithFlags(
      "merge", Seq("content", "path"), Seq('+', '-'), Analyzer.noStop)
    assert(qf == BoolQ(Seq(TermQ("merge")), Nil, Seq(TermQ("path:merge"))))
  }

  test("multi-field — regex keeps a seekable literal prefix and groups alternations") {
    val mf = new MultiFieldQueryParser(Seq("lang"), Analyzer.noStop)
    val q = mf.parse("/scala|java/").asInstanceOf[RegexpQ]
    assert(q.regex == "lang:(?:scala|java)")
    // the engine's anchored matcher: full-term semantics on the slice
    assert("lang:java".matches("^(?:" + q.regex + ")$"))
    assert(!"other:java".matches("^(?:" + q.regex + ")$"))
    // the literal head is extractable for the dictionary seek
    assert(DictSeek.regexpPrefix(q.regex).startsWith("lang:"))
  }

  test("multi-field — open ranges close within the keyword field slice") {
    val mf = new MultiFieldQueryParser(Seq("lang"), Analyzer.noStop)
    val q = mf.parse("[a TO *]").asInstanceOf[TermRangeQ]
    assert(q.lower == "lang:a" && q.upper == "lang;" && !q.includeUpper)
  }
}
