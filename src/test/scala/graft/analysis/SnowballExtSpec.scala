package graft.analysis

import org.scalatest.funsuite.AnyFunSuite

/** Armenian/Basque/Catalan/Irish Snowball stemmers. The reference archive
  * ships no voc/output vectors for these four, so validation is
  * two-pronged: (1) the among tables are compared entry-for-entry against
  * the reference's generated literals, parsed from the C# at test time
  * (the DoubleMetaphone-vector precedent) — catching any transcription
  * drift; (2) control-flow semantics are asserted with hand-traced cases
  * whose longest-match/region arithmetic is worked out in comments. */
class SnowballExtSpec extends AnyFunSuite {

  private val ExtDir =
    "/root/reference/src/Lucene.Net.Analysis.Common/Tartarus/Snowball/Ext"

  /** Parse (suffix → code) multiset of one among table from generated C#. */
  private def parseTable(lang: String, name: String): Map[(String, Int), Int] = {
    val src = {
      val s = scala.io.Source.fromFile(s"$ExtDir/${lang}Stemmer.cs", "UTF-8")
      try s.mkString finally s.close()
    }
    val table = ("""static Among\[\] """ + name + """ = \{(.*?)\};""").r
      .findFirstMatchIn(new String(src.toCharArray).replace("\n", " "))
      .getOrElse(fail(s"table $name not found for $lang")).group(1)
    val entry = """new Among \( "((?:[^"\\]|\\.)*)", (-?\d+), (\d+),""".r
    entry.findAllMatchIn(table).map { m =>
      val lit = m.group(1)
      // unescape \uXXXX and the simple escapes the literals use
      val sb = new StringBuilder
      var i = 0
      while (i < lit.length) {
        if (lit.charAt(i) == '\\' && i + 1 < lit.length && lit.charAt(i + 1) == 'u') {
          sb.append(Integer.parseInt(lit.substring(i + 2, i + 6), 16).toChar); i += 6
        } else if (lit.charAt(i) == '\\') { sb.append(lit.charAt(i + 1)); i += 2 }
        else { sb.append(lit.charAt(i)); i += 1 }
      }
      (sb.toString, m.group(3).toInt)
    }.toSeq.groupBy(identity).view.mapValues(_.size).toMap
  }

  private def mine(tbl: Array[(String, Int)]): Map[(String, Int), Int] =
    tbl.toSeq.groupBy(identity).view.mapValues(_.size).toMap

  test("among tables match the reference's generated literals exactly") {
    assume(new java.io.File(ExtDir).isDirectory, "reference Snowball sources unavailable")
    import SnowballExtTables._
    val checks = Seq(
      ("Armenian", "a_0", armenian_a0), ("Armenian", "a_1", armenian_a1),
      ("Armenian", "a_2", armenian_a2), ("Armenian", "a_3", armenian_a3),
      ("Basque", "a_0", basque_a0), ("Basque", "a_1", basque_a1),
      ("Basque", "a_2", basque_a2),
      ("Catalan", "a_1", catalan_a1), ("Catalan", "a_2", catalan_a2),
      ("Catalan", "a_3", catalan_a3), ("Catalan", "a_4", catalan_a4),
      ("Irish", "a_0", irish_a0), ("Irish", "a_1", irish_a1),
      ("Irish", "a_2", irish_a2), ("Irish", "a_3", irish_a3))
    for ((lang, name, tbl) <- checks)
      assert(mine(tbl) === parseTable(lang, name), s"$lang $name diverges")
  }

  test("Armenian: traced verb/ending/adjective strips within the post-vowel region") {
    val s = SnowballArmenian.stem _
    // կարդացի: ending drops final ի (R2 at 6 ≤ bra 6), then verb drops աց
    assert(s("կարդացի") ===
      "կարդ") // կարդացի → կարդ
    // տներում: երում blocked by pV (bra 2 < pV 3); verb strips ում
    assert(s("տներում") ===
      "տներ") // տներում → տներ
    // գրադարան: ending strips ան (R2 6 ≤ 6), then verb strips ար
    assert(s("գրադարան") ===
      "գրադ") // գրադարան → գրադ
    // գրքերով: երով blocked by pV; longest matchable ով fails R2 → no
    // fallback to shorter entries (the switch-after-FindAmongB contract)
    val w = "գրքերով"
    assert(s(w) === w) // գրքերով unchanged
    // մարդերին: ending երին fails R2 (no fallback), but adjective ին fires
    assert(s("մարդերին") ===
      "մարդեր") // մարդերին → մարդեր
  }

  test("Basque: repeat loops thread the virtual end; conditions end the loop") {
    val s = SnowballBasque.stem _
    // aditzak karia (RV) → egun; nothing further matches
    assert(s("egunkaria") === "egun")
    // izenak ten (R1) → aurkez, then ez (RV) → aurk — repeat strips twice
    assert(s("aurkezten") === "aurk")
    // izenak denda (RV) → liburu; buru would match next but fails R2 —
    // a condition failure ENDS the repeat loop
    assert(s("liburudenda") === "liburu")
    // atseden: aditzak replaces the whole word with itself and moves the
    // virtual end to 0 — the later izenak 'en' (R1) must NOT fire
    assert(s("atseden") === "atseden")
    // takoa (RV) → mendie, nothing further
    assert(s("mendietakoa") === "mendie")
  }

  test("Catalan: pronoun → standard-or-verb → residual, then accent cleaning") {
    val s = SnowballCatalan.stem _
    // pronoun -la (R1), then standard ar (R1), residual none
    assert(s("portar-la") === "port")
    // verb ava (R1) after standard fails
    assert(s("cantava") === "cant")
    // standard 'lógica'→log needs R2 and fails at bra 0 (NO fallback);
    // residual a (R1) fires; cleaning folds ó→o
    assert(s("lógica") === "logic")
    // acions (R2) fails in nacions (p2 6 > bra 1) → residual s only...
    assert(s("nacions") === "nacion")
    // ...but passes in operacions (p2 4 ≤ bra 4) — R2-gated family suffix
    assert(s("operacions") === "oper")
    // verb arà (R1, bra 4 ≥ r1 3); residual finds nothing on cant
    assert(s("cantarà") === "cant")
  }

  test("Irish: demutation prefix map, then R1/R2/RV-gated suffix steps") {
    val s = SnowballIrish.stem _
    assert(s("bhfuil") === "fuil")   // eclipsis bhf → f
    assert(s("ngalar") === "galar")  // eclipsis ng → g
    assert(s("t-arm") === "arm")     // t- deleted
    assert(s("shúil") === "súil") // lenition sh → s (súil)
    assert(s("bailíochta") === "bail") // noun íochta (R1)
    assert(s("grafaíochta") === "graf") // noun aíochta longest (R1)
    assert(s("molfaidh") === "mol")  // verb faidh (RV)
  }

  test("registry: hy/eu/ca/ga wired into the snowball stemmer map") {
    for (lang <- Seq("hy", "eu", "ca", "ga"))
      assert(LightStemmers.snowball.contains(lang), lang)
    assert(LightStemmers.snowball("eu")("egunkaria") === "egun")
  }
}
