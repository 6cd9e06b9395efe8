package graft

import graft.functions.CallNumbers._
import graft.functions.MetadataFunctions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's OWN unit-test case tables, ported verbatim
  * (tests/RecordManagerTest/Base/Utils/MetadataUtilsTest.php,
  * DeweyCallNumberTest.php, LcCallNumberTest.php) and asserted against
  * our Column implementations — the literal "matches the reference on
  * its own tests" check. Cases exercising config surfaces we don't
  * support (custom ICU rule strings, per-call punctuation-set
  * overrides) are noted and skipped; everything else asserts the PHP
  * expectation byte-for-byte (doubles to 1e-9).
  *
  * Porting this table exposed and fixed a real divergence: the
  * reference's Dewey getSortKey always appends the (never-null) suffix
  * segment, so '1 .I39' sorts as "11 I39 " with a trailing space — our
  * deweySortKey used to drop it.
  */
class ReferenceParitySpec extends SparkSuite {

  /** Evaluate string-valued columns for a batch of inputs in ONE job. */
  private def evalAll(cases: Seq[(String, String)], f: Column => Column): Unit = {
    val cols = cases.zipWithIndex.map { case ((in, _), i) => f(lit(in)).as(s"c$i") }
    val row = spark.range(1).select(cols: _*).collect()(0)
    cases.zipWithIndex.foreach { case ((in, expected), i) =>
      assert(row.getString(i) == expected, s"input <$in>")
    }
  }

  test("MetadataUtilsTest::testNormalizeKey (default ICU rules + folding table)") {
    // intl present → the default key_folding_rules pipeline
    evalAll(
      Seq(
        "A -.*B  C" -> "abc",
        "ÖÄÅöäåüïé" -> "oaaoaauie",
        "AaÖÄÅöäåüï" -> "aaoaaoaaui"
      ),
      normalizeKeyRules
    )
    // folding_ignore_characters åäöÅÄÖ with the transliterator disabled
    val table = DefaultFoldingTable.filterNot(e => "åäöÅÄÖ".contains(e._1))
    evalAll(Seq("AaÖÄÅöäåüï" -> "aaöäåöäåui"), c => normalizeKey(c, table))
    // (the custom `key_folding_rules` string variant needs arbitrary ICU
    // transliteration — unsupported, documented at KeyFoldRulesExpr)
  }

  test("key folding rules `:: Latin;` stage — embedded Cyrillic/Greek romanization") {
    // Flag-gated approximation of the ICU transliterator's romanization
    // (ISO 9 post-fold for Cyrillic, ELOT 743 for Greek); common titles a
    // Cyrillic/Greek deployment actually dedups on. Default stays off.
    evalAll(
      Seq(
        "Война и мир" -> "vojnaimir",
        "Преступление и наказание" -> "prestuplenieinakazanie",
        "Мёртвые души" -> "mertvyedusi",
        "Братья Карамазовы" -> "bratakaramazovy",
        "Анна Каренина" -> "annakarenina",
        "Кобзар України" -> "kobzarukraini",
        // decomposed й (и + breve) must still romanize as j, not i
        "Война" -> "vojna",
        "Οδύσσεια" -> "odysseia",
        "Ιλιάς" -> "ilias",
        "Αντιγόνη" -> "antigoni",
        "Ψυχή και Χάος" -> "psychikaichaos",
        // Arabic ISO 233 rows (r10): carriers keep their letter, hamza
        // and ʿayn drop (modifier-letter images), ة → t, and the
        // harakat need no table rows (the fatha/shadda here are
        // combining marks the Remove stage strips).
        "ألف ليلة وليلة" -> "alflyltwlylt",
        "كتاب الحيوان" -> "ktabalhywan",
        "مَكْتَبَة" -> "mktbt",
        "شاهنامه فردوسی" -> "sahnamhfrdwsy",
        "العدد ٣ سنة ١٩٢٥" -> "aldd3snt1925",
        // Kana Hepburn rows (r11): yōon digraphs (きゃ→kya, しょ→sho),
        // sokuon gemination incl. Hepburn's tch, chōonpu drops (the
        // macron image folds away), katakana and hiragana both tabled
        "きゃべつ と しょうゆ" -> "kyabetsutoshouyu",
        "さっぽろ ラーメン" -> "sappororamen",
        "まっちゃ クッキー" -> "matchakukki",
        "ぎんが てつどう の よる" -> "gingatetsudounoyoru",
        // Korean Revised-Romanization rows (r11): algorithmic Unicode
        // syllable decomposition — double-consonant leads (ㅃ/ㄲ…),
        // cluster tails (ㄺ…), the RR transliteration variant
        "한국어 문법" -> "hangugeomunbeob",
        "훈민정음 해례본" -> "hunminjeongeumhaeryebon",
        "아리랑 연가 1926" -> "arirangyeonga1926",
        "닭갈비" -> "dalggalbi",
        // Han pinyin rows (r13): bounded top-frequency table, one
        // reading per character, tone-stripped post-fold image;
        // simplified and traditional forms of the same title MUST
        // fold to the same dedup key (the property the stage exists
        // for), and untabled characters pass through unchanged
        "红楼梦" -> "hongloumeng",
        "紅樓夢" -> "hongloumeng",
        "三国演义" -> "sanguoyanyi",
        "三國演義" -> "sanguoyanyi",
        "道德经" -> "daodejing",
        "孙子兵法 1972" -> "sunzibingfa1972",
        "水浒传 Water Margin" -> "shuihuzhuanwatermargin",
        // 罽 (a rare character) is outside the bounded table: passthrough
        "论语罽" -> "lunyu罽",
        // Latin input is untouched by the flag (same key as romanize=off)
        "Tähtien Sota!" -> "tahtiensota"
      ),
      c => normalizeKeyRules(c, romanize = true)
    )
    // romanize=false keeps the round-7 behavior: non-Latin passes through
    // (NFD still strips й's breve — the mark-removal stage is script-blind)
    evalAll(Seq("Война и мир" -> "воинаимир"), c => normalizeKeyRules(c, romanize = false))
  }

  test("MetadataUtilsTest::stripPunctuationProvider (default pattern)") {
    evalAll(
      Seq(
        ".123" -> "123",
        "/ . foo." -> "foo",
        "© 1979" -> "© 1979",
        " foo-bar " -> "foo bar",
        "\t\\#*!¡?/:;., foo \t\\#*!¡?/:;.,=(['\"´`” ̈ bar =(['\"´`” ̈" -> "foo bar",
        "..." -> "..."
      ),
      stripPunctuation
    )
    // (the two custom-punctuation-regexp cases override a per-call
    // parameter our Column API doesn't model)
  }

  test("MetadataUtilsTest::testStripLeadingPunctuation (default set)") {
    evalAll(
      Seq(
        ".123" -> "123",
        "/ . foo." -> "foo.",
        "© 1979" -> "© 1979",
        "-foo" -> "-foo",
        "..." -> "..."
      ),
      stripLeadingPunctuation
    )
  }

  test("MetadataUtilsTest::testStripTrailingPunctuation (default set)") {
    evalAll(
      Seq(
        "123." -> "123.",
        "foo /" -> "foo",
        "1979© " -> "1979©",
        "foo--" -> "foo--",
        "bar /:;,=([" -> "bar"
      ),
      stripTrailingPunctuation
    )
  }

  test("MetadataUtilsTest::hasTrailingPunctuationProvider") {
    val cases = Seq(
      "123." -> true,
      "Mattila P." -> false,
      "foo /" -> true,
      "1979© " -> false,
      "foo--" -> false,
      "bar /:;,=([" -> true
    )
    val cols = cases.zipWithIndex.map { case ((in, _), i) =>
      operators.MetadataQueries2.hasTrailingPunctuation(lit(in)).as(s"c$i")
    }
    val row = spark.range(1).select(cols: _*).collect()(0)
    cases.zipWithIndex.foreach { case ((in, expected), i) =>
      assert(row.getBoolean(i) == expected, s"input <$in>")
    }
  }

  test("MetadataUtilsTest::testCoordinateToDecimal") {
    val cases = Seq(
      "" -> Double.NaN,
      " " -> Double.NaN,
      "W0765200" -> -76.866666666667,
      "e0250831" -> 25.141944444444,
      "e0250831.123" -> 25.14197861111111,
      "E 0250831" -> 25.141944444444,
      "W072.123" -> -72.123,
      "-65.123" -> -65.123,
      "+65.123" -> 65.123,
      "E02508.31" -> 25.1385,
      "N372500" -> 37.416666666666664,
      "E079.533265" -> 79.533265,
      "S012.583377" -> -12.583377,
      "+079.533265" -> 79.533265,
      "-012.583377" -> -12.583377,
      "079.533265" -> 79.533265,
      "E07932.5332" -> 79.54222,
      "E0793235" -> 79.54305555555555,
      "E0793235.575" -> 79.54321527777778
    )
    val cols = cases.zipWithIndex.map { case ((in, _), i) =>
      coordinateToDecimal(lit(in)).as(s"c$i")
    }
    val row = spark.range(1).select(cols: _*).collect()(0)
    cases.zipWithIndex.foreach { case ((in, expected), i) =>
      val got = row.getDouble(i)
      if (expected.isNaN) assert(got.isNaN, s"input <$in>")
      else assert(math.abs(got - expected) < 1e-9, s"input <$in>: got $got")
    }
  }

  test("MetadataUtilsTest::testIsbn10to13 and testNormalizeISBN") {
    // PHP returns false for unconvertible input; the Column API's '' is
    // the same sentinel the callers branch on.
    evalAll(
      Seq(
        "" -> "",
        "foo" -> "",
        "9514920988 foo" -> "",
        "9514920096" -> "", // invalid checksum
        "9514920988" -> "9789514920981",
        "951-492-098-8" -> ""
      ),
      isbn10to13
    )
    evalAll(
      Seq(
        "" -> "",
        "foo" -> "",
        "9514920096" -> "",
        "9514920988" -> "9789514920981",
        "951-492-098-8" -> "9789514920981",
        "9789514920981" -> "9789514920981",
        "978-951-492098-1" -> "9789514920981"
      ),
      normalizeIsbn
    )
  }

  test("MetadataUtilsTest::createSortTitleProvider") {
    evalAll(
      Seq(
        "" -> "",
        "Theme is this" -> "theme is this",
        "The Me" -> "me",
        "\"The Others\"" -> "others",
        "L'Avion" -> "avion",
        "Ll'Avion" -> "ll avion"
      ),
      createSortTitle
    )
    // stripArticle=false ≙ the pipeline without the article strip
    evalAll(Seq("The Me" -> "the me"), c => lower(stripPunctuation(c)))
  }

  test("DeweyCallNumberTest: valid/invalid tables and accessors") {
    val valid = Seq(
      "1 .I39", "1.23 .I39", "11 .I39", "11.34 .I39", "11.34567 .I39",
      "111 .I39", "111 I39", "111Q39", "111.12 .I39", "111.123 I39",
      "111.134Q39", "322.44 .F816 V.1 1974", "322.45 .R513 1957",
      "323 .A512RE NO.23-28", "323 .A778 ED.2", "323.09 .K43 V.1",
      "324.54 .I39 F", "324.548 .C425R", "324.6 .A75CUA"
    )
    val invalid = Seq("", "MC1 259", "T1 105")
    val validCols = valid.zipWithIndex.map { case (in, i) => deweyValid(lit(in)).as(s"v$i") }
    val row = spark.range(1).select(validCols: _*).collect()(0)
    valid.zipWithIndex.foreach { case (in, i) => assert(row.getBoolean(i), s"<$in>") }
    invalid.foreach { in =>
      val r = spark
        .range(1)
        .select(
          deweyValid(lit(in)).as("v"),
          deweySearchString(lit(in)).as("se"),
          deweySortKey(lit(in)).as("so")
        )
        .collect()(0)
      assert(!r.getBoolean(0) && r.getString(1) == "" && r.getString(2) == "", s"<$in>")
    }
    // accessor expectations for the two worked examples
    evalAll(Seq("1 .I39" -> "001", "322.44 .F816 V.1 1974" -> "322"), c => deweyNumber(c, 1))
    evalAll(Seq("1 .I39" -> "000", "322.44 .F816 V.1 1974" -> "320"), c => deweyNumber(c, 10))
    evalAll(Seq("1 .I39" -> "000", "322.44 .F816 V.1 1974" -> "300"), c => deweyNumber(c, 100))
    evalAll(
      Seq("1 .I39" -> "1.I39", "322.44 .F816 V.1 1974" -> "322.44.F816V.11974"),
      deweySearchString
    )
    evalAll(
      Seq(
        "1 .I39" -> "11 I39 ", // trailing space: the always-appended empty suffix
        "322.44 .F816 V.1 1974" -> "3322.44 F816 V.11 41974"
      ),
      deweySortKey
    )
  }

  private def evalArr(cases: Seq[(String, Seq[String])], f: Column => Column): Unit = {
    val cols = cases.zipWithIndex.map { case ((in, _), i) => f(lit(in)).as(s"c$i") }
    val row = spark.range(1).select(cols: _*).collect()(0)
    cases.zipWithIndex.foreach { case ((in, expected), i) =>
      assert(row.getSeq[String](i) == expected, s"input <$in>")
    }
  }

  test("FieldMapperTest::testBasicMappingFile (building-basic.map)") {
    import operators.FieldMapping._
    val f = MapFile(
      "normal",
      Seq(
        "val1" -> Seq("a/b"),
        "val2" -> Seq(""),
        "val3" -> Seq("a", "b"), // val3[] accumulation
        "fi=val4" -> Seq("c")
      ),
      default = Some("def")
    )
    evalArr(
      Seq(
        "val1" -> Seq("a/b"),
        "val2" -> Seq(""),
        "val3" -> Seq("a", "b"),
        "fi=val4" -> Seq("c"),
        "val4" -> Seq("def"),
        // mapValue applies ##default to an EMPTY value too (the
        // empty-input ##empty handling lives one level up in mapValues)
        "" -> Seq("def")
      ),
      v => mapOneValue(v, f)
    )
  }

  test("FieldMapperTest::testRegexpMappingFile (building-regexp.map + no-default)") {
    import operators.FieldMapping._
    val entries = Seq(
      "([a-z]+)(\\d)" -> Seq("$1/$2"),
      "([a-z]+)" -> Seq("string"),
      "^\\d+(.*)$" -> Seq("$1"),
      "^FOO.*" -> Seq("BAR", "BAZ") // ^FOO.*[] accumulation
    )
    val withDefault = MapFile("regexp", entries, default = Some("def"))
    evalArr(
      Seq(
        "val1" -> Seq("val/1"),
        "val" -> Seq("string"),
        "!21!" -> Seq("def"),
        "21!" -> Seq("!"),
        "21" -> Seq(""),
        "FOO123" -> Seq("BAR", "BAZ")
      ),
      v => mapOneValue(v, withDefault)
    )
    val noDefault = MapFile("regexp", entries.take(3))
    evalArr(
      Seq(
        "val1" -> Seq("val/1"),
        "val" -> Seq("string"),
        "!21!" -> Seq("!21!"), // identity when nothing matches and no default
        "21!" -> Seq("!"),
        "21" -> Seq("")
      ),
      v => mapOneValue(v, noDefault)
    )
  }

  test("FieldMapperTest::testRegexpMultiMappingFile (building-regexp-multi.map)") {
    import operators.FieldMapping._
    val f = MapFile(
      "regexp-multi",
      Seq(
        "([a-z]+)(\\d)" -> Seq("$1/$2"),
        "([a-z]+)" -> Seq("string"),
        "^\\d+(.*)$" -> Seq("$1")
      ),
      default = Some("def")
    )
    evalArr(
      Seq(
        // every matching pattern contributes; 'string1' keeps the
        // unmatched digit (preg_replace rewrites the match in place)
        "val1" -> Seq("val/1", "string1"),
        "val" -> Seq("string"),
        "!21!" -> Seq("def")
      ),
      v => mapOneValue(v, f)
    )
  }

  test("FieldMapperTest::testMapValues + testMapValuesDefault (end-to-end)") {
    import operators.FieldMapping._
    val building = MapFile(
      "normal",
      Seq("A1" -> Seq("A"), "A2" -> Seq("A"), "B1" -> Seq("B"), "C1" -> Seq("")),
      default = Some("DEF")
    )
    val rights = MapFile(
      "regexp",
      Seq(
        "^CC[ -]*BY[ -]*ND.*" -> Seq("by", "nd"),
        "^CC[ -]*BY[ .0-9]*$" -> Seq("by")
      ),
      default = Some(""),
      mappedEmpty = Some("other")
    )
    def arr(vals: String*) = array(vals.map(lit): _*)
    val row = spark
      .range(1)
      .select(
        mapFieldArray(arr("A1", "B1"), building).as("b"),
        mapFieldArray(arr("CC FOO", "CC BY ND"), rights).as("r1"),
        mapFieldArray(arr("CC FOO", "CC BAR"), rights).as("r2")
      )
      .collect()(0)
    assert(row.getSeq[String](0) == Seq("A", "B"))
    assert(row.getSeq[String](1) == Seq("by", "nd"))
    assert(row.getSeq[String](2) == Seq("other"))
  }

  test("LcCallNumberTest::testCallNumber") {
    evalAll(
      Seq(
        "AC901.M5 vol. 1013, no. 8" -> "AC 3901 M15",
        "GV1101 .D7 1980" -> "GV 41101 D17"
      ),
      lcSortKey
    )
    val r = spark
      .range(1)
      .select(
        lcValid(lit("AC901.M5 vol. 1013, no. 8")),
        lcValid(lit("GV1101 .D7 1980")),
        lcValid(lit("XV1101 .D7 1980"))
      )
      .collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1) && !r.getBoolean(2))
  }

  /** qdc1.xml parsed into the (elem, typ, lang, val) field model the same
    * way Qdc.php's SimpleXML walk sees it: one entry per child element of
    * the record root, `typ` = @type, `lang` = @lang, text content as val.
    */
  private lazy val qdc1Doc = {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val dom = dbf
      .newDocumentBuilder()
      .parse(ReferenceFixtures.path("Base/record/qdc1.xml").toFile)
    val kids = dom.getDocumentElement.getChildNodes
    val rows = (0 until kids.getLength).map(kids.item).collect {
      case e: org.w3c.dom.Element =>
        (
          Option(e.getLocalName).getOrElse(e.getTagName),
          e.getAttribute("type"),
          e.getAttribute("lang"),
          e.getTextContent
        )
    }
    val fieldExprs = rows.map { case (e, t, l, v) =>
      struct(lit(e).as("elem"), lit(t).as("typ"), lit(l).as("lang"), lit(v).as("val"))
    }
    spark.range(1).select(lit("qdc1").as("record_id"), array(fieldExprs: _*).as("fields"))
  }

  test("QdcTest::testQdc1 — toSolrArray on the reference's own qdc1.xml fixture") {
    // Expected values are QdcTest.php's $expected table for the getters
    // our QDC surface models (title block, authors, format, year, ids,
    // languages, urls, publisher, description). Reference-only fields
    // (topic/allfields/ctrlnum/work keys) are outside qdc_extract's
    // declared projection.
    val row = graft.operators.ProfileQueries.qdcSolrFrame(qdc1Doc).collect()(0)
    def s(n: String) = row.getAs[String](n)
    assert(s("title") == "Urine : The potential, value chain and its sustainable management")
    assert(s("title_short") == "Urine")
    assert(s("title_sub") == "The potential, value chain and its sustainable management")
    assert(s("title_alt") == "")
    assert(s("title_sort") == "urine the potential value chain and its sustainable management")
    assert(s("author") == "Viskari, Eeva-Liisa|Lehtoranta, Suvi|Malila, Riikka")
    assert(s("author_sort") == "Viskari, Eeva-Liisa")
    assert(s("author2") == "")
    assert(s("format") == "Article")
    assert(s("publish_year") == "2021")
    assert(s("unique_ids") == "")
    assert(s("isbns") == "")
    assert(s("issns") == "2432-5058")
    assert(s("dois") == "10.34416/svc.00029")
    assert(s("langs") == "en")
    assert(s("description") == "")
    assert(s("contents") == "")
    assert(s("urls") == "http://hdl.handle.net/10138/331330|https://doi.org/10.34416/svc.00029")
    assert(s("publisher") == "Sanitation Project, Research Institute for Humanity and Nature")
  }

  test("LrmiTest::testLrmi1 — toSolrArray on the reference's own lrmi1.xml fixture") {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val dom = dbf
      .newDocumentBuilder()
      .parse(ReferenceFixtures.path("Base/record/lrmi1.xml").toFile)
    val root = dom.getDocumentElement
    def elems(parent: org.w3c.dom.Element, name: String): Seq[org.w3c.dom.Element] = {
      val kids = parent.getChildNodes
      (0 until kids.getLength).map(kids.item).collect {
        case e: org.w3c.dom.Element if e.getTagName == name => e
      }
    }
    def text(parent: org.w3c.dom.Element, name: String): String =
      elems(parent, name).headOption.map(_.getTextContent).getOrElse("")
    val title = text(root, "title") // SimpleXML (string)$doc->title = first
    val authors = elems(root, "author").flatMap { a =>
      elems(a, "person").map(p => ("person", text(p, "name"))) ++
        elems(a, "organization").map(o => ("org", text(o, "name")))
    }
    val about = elems(root, "about").flatMap(a =>
      elems(a, "thing").map(t => (text(t, "name"), text(t, "identifier")))
    )
    val materialLangs = elems(root, "material").map(m => text(m, "inLanguage"))
    val inLanguage = elems(root, "inLanguage").map(_.getTextContent)
    val doc = spark
      .range(1)
      .select(
        lit("lrmi1").as("record_id"),
        lit(title).as("rawtitle"),
        array(authors.map { case (k, n) =>
          struct(lit(k).as("kind"), lit(n).as("name"))
        }: _*).as("authors"),
        array(about.map { case (n, i) =>
          struct(lit(n).as("name"), lit(i).as("id"))
        }: _*).as("about"),
        array(materialLangs.map(lit(_)): _*).as("materials"),
        array(inLanguage.map(lit(_)): _*).as("in_language")
      )
    val row = graft.operators.ProfileQueries.lrmiSolrFrame(doc).collect()(0)
    def s(n: String) = row.getAs[String](n)
    assert(s("title") == "Opetuksen ja oppimisen suunnittelu, Learning Design")
    assert(s("title_sort") == "opetuksen ja oppimisen suunnittelu learning design")
    assert(s("format") == "LearningMaterial")
    assert(s("author") == "Koli, Hanne")
    assert(s("author2") == "Koli, Hanne")
    assert(s("author_corporate") == "")
    assert(
      s("topics") == "oppiminen|opetus|oppimisprosessi|oppimistehtävä|" +
        "ohjaus (neuvonta ja opastus)|pedagogiikka|digipedagogiikka|oppimisympäristö"
    )
    // getLanguages: material languages first, then inLanguage, uniqued —
    // [en, sv, fi] exactly as LrmiTest expects.
    assert(s("langs") == "en|sv|fi")
  }

  test("EaccpfTest::testEaccpf1 — toSolrArray on the reference's own eaccpf1.xml fixture") {
    val dbf = javax.xml.parsers.DocumentBuilderFactory.newInstance()
    dbf.setNamespaceAware(true)
    val dom = dbf
      .newDocumentBuilder()
      .parse(ReferenceFixtures.path("Base/record/eaccpf1.xml").toFile)
    val root = dom.getDocumentElement
    def all(parent: org.w3c.dom.Element, name: String): Seq[org.w3c.dom.Element] = {
      // descendant search in document order, like SimpleXML path walks
      val l = parent.getElementsByTagName(name)
      (0 until l.getLength).map(l.item(_).asInstanceOf[org.w3c.dom.Element])
    }
    def kids(parent: org.w3c.dom.Element, name: String): Seq[org.w3c.dom.Element] = {
      val k = parent.getChildNodes
      (0 until k.getLength).map(k.item).collect {
        case e: org.w3c.dom.Element if e.getTagName == name => e
      }
    }
    val identity = all(root, "identity").head
    val mainEntry = kids(identity, "nameEntry").head
    val parts = kids(mainEntry, "part").map(p => (p.getAttribute("localType"), p.getTextContent))
    val parallels = all(identity, "nameEntryParallel").flatMap(pe =>
      kids(pe, "nameEntry").map { ne =>
        val ps = kids(ne, "part").map(p => p.getAttribute("localType") -> p.getTextContent).toMap
        (ps.getOrElse("TONI1", ""), ps.getOrElse("TONI4", ""))
      }
    )
    val dates = all(root, "date").map(dt => (dt.getAttribute("localType"), dt.getAttribute("standardDate")))
    val places = all(root, "place").map { p =>
      (p.getAttribute("localType"), kids(p, "placeEntry").headOption.map(_.getTextContent).getOrElse(""))
    }
    val occupations = all(root, "occupation").map(o => kids(o, "term").head.getTextContent)
    val funcs = all(root, "localDescription").map { ld =>
      (ld.getAttribute("localType"), kids(ld, "citation").map(_.getTextContent))
    }
    val entityType = all(root, "entityType").head.getTextContent
    val langCode = all(root, "language").head.getAttribute("languageCode")

    val doc = spark
      .range(1)
      .select(
        lit("eaccpf1").as("record_id"),
        array(parts.map { case (t, v) => struct(lit(t).as("typ"), lit(v).as("val")) }: _*)
          .as("parts"),
        array(parallels.map { case (p1, p4) =>
          struct(lit(p1).as("p1"), lit(p4).as("p4"))
        }: _*).as("parallels"),
        array(dates.map { case (t, sd) => struct(lit(t).as("typ"), lit(sd).as("std")) }: _*)
          .as("dates"),
        array(places.map { case (t, en) => struct(lit(t).as("typ"), lit(en).as("entry")) }: _*)
          .as("places"),
        array(occupations.map(lit(_)): _*).as("occupations"),
        array(funcs.map { case (t, ns) =>
          struct(lit(t).as("typ"), array(ns.map(lit(_)): _*).as("notes"))
        }: _*).as("funcs"),
        lit(entityType).as("entity_type"),
        lit(langCode).as("lang_code")
      )
    val row = graft.operators.ProfileQueries2.eaccpfSolrFrame(doc).collect()(0)
    def s(n: String) = row.getAs[String](n)
    assert(s("record_type") == "person")
    assert(s("heading") == "Sukunimi Etunimi")
    assert(s("use_for") == "Toinensuku Toinennimi")
    assert(s("birth_date") == "1950")
    assert(s("death_date") == "2000")
    assert(s("birth_place") == "Tampere")
    assert(s("death_place") == "Joensuu")
    assert(s("related_place") == "Helsinki|Oulu")
    assert(s("occupation") == "runoilija|kirjailija")
    assert(s("field_of_activity") == "")
    assert(s("language") == "fin")
  }

  test("QdcTest::testFormat — preferredFormatTypes driver-param table") {
    for (
      (pref, want) <- Seq(
        "okm" -> "okm_type",
        "okm,other" -> "okm_type",
        "finna,other" -> "other_type",
        "finna" -> "Article"
      )
    ) {
      val fmt = graft.operators.ProfileQueries
        .qdcSolrFrame(qdc1Doc, preferredFormatTypes = pref.split(",").toSeq)
        .select("format")
        .collect()(0)
        .getString(0)
      assert(fmt == want, s"preferredFormatTypes=$pref")
    }
  }
}
