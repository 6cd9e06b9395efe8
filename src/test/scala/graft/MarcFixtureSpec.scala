package graft

import graft.operators.MarcToSolr
import graft.sources.MarcXmlFull
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Field-by-field `toSolrArray` parity with the reference's OWN MARC
  * record-driver tests (tests/RecordManagerTest/Base/Record/MarcTest.php)
  * on the reference's own fixtures — marc1/marc2/marc_geo/marc_dewey for
  * the full Solr array, marc_alt_script/marc_analytical for
  * getWorkIdentificationData, plus getUniqueIDs. Expected values are the
  * PHPUnit tables verbatim; comparison follows compareArray's loose
  * semantics (an expected-absent field must be empty on our side).
  */
class MarcFixtureSpec extends SparkSuite {

  private def recordDf(name: String): DataFrame = {
    val xml = ReferenceFixtures.text(s"Base/record/$name")
    val rec = MarcXmlFull.parseCollection(xml).head
    val session = spark
    import session.implicits._
    Seq(rec).toDF()
  }

  /** All four toSolrArray fixtures go through ONE select/collect: the
    * assembly is a ~60-column expression forest whose Catalyst analysis
    * dominates the suite's runtime, so it is compiled once for four rows
    * (geoCenterField=true is safe for the non-geo fixtures — no 034
    * fields, the extra column stays empty).
    */
  private lazy val solrRows: Map[String, (Seq[String], Row)] = {
    val fixtures = Seq("marc1.xml", "marc2.xml", "marc_geo.xml", "marc_dewey.xml")
    val session = spark
    import session.implicits._
    val recs = fixtures.map { name =>
      val xml = ReferenceFixtures.text(s"Base/record/$name")
      (name, MarcXmlFull.parseCollection(xml).head)
    }
    val df = recs.map { case (n, r) => (n, r.leader, r.controls, r.fields) }
      .toDF("fixture", "leader", "controls", "fields")
    val cols = MarcToSolr.solrColumns(
      col("leader"), col("controls"), col("fields"), geoCenterField = true)
    val out = df.select(col("fixture") +: cols.map { case (n, c) => c.as(n) }: _*)
    out.collect().map(r => r.getString(0) -> (cols.map(_._1), r)).toMap
  }

  private def checkSolr(fixture: String, expected: Map[String, Any], geoCenter: Boolean = false): Unit = {
    val (names, row0) = solrRows(fixture)
    val row = row0
    val emitted = names.toSet
    for (k <- expected.keys)
      assert(emitted.contains(k), s"[$fixture] expected field not emitted at all: $k")
    for ((n, i) <- names.zipWithIndex) {
      val v = row.get(i + 1)
      expected.get(n) match {
        case Some(e: String) =>
          assert(v == e, s"[$fixture] $n: got '$v' expected '$e'")
        case Some(e: Seq[_]) =>
          val got = v.asInstanceOf[scala.collection.Seq[String]].toSeq
          assert(got == e, s"[$fixture] $n: got $got expected $e")
        case Some(other) => fail(s"[$fixture] bad expected type for $n: $other")
        case None =>
          v match {
            case s: String => assert(s == "", s"[$fixture] unexpected non-empty $n: '$s'")
            case a: scala.collection.Seq[_] =>
              assert(a.isEmpty, s"[$fixture] unexpected non-empty $n: $a")
            case other => fail(s"[$fixture] unexpected $n: $other")
          }
      }
    }
  }

  // ------------------------------------------------------------- marc1

  test("MarcTest::testMarc1 — toSolrArray on marc1.xml") {
    checkSolr(
      "marc1.xml",
      Map(
        "record_format" -> "marc",
        "building" -> Seq("150", "150"),
        "lccn" -> "",
        "ctrlnum" -> Seq("FCC005246184", "378890", "401416"),
        "allfields" -> Seq(
          "Hirsjärvi, Sirkka",
          "Tutki ja kirjoita",
          "Sirkka Hirsjärvi, Pirkko Remes, Paula Sajavaara",
          "17. uud. p.",
          "Helsinki",
          "Tammi",
          "2345 [2013?]",
          "teksti",
          "txt",
          "rdacontent",
          "käytettävissä ilman laitetta",
          "n",
          "rdamedia",
          "nide",
          "nc",
          "rdacarrier",
          "18. p. 2013",
          "Summary field",
          "oppaat",
          "ft: kirjoittaminen",
          "apurahat",
          "tutkimusrahoitus",
          "tutkimuspolitiikka",
          "opinnäytteet",
          "tiedonhaku",
          "kielioppaat",
          "tutkimustyö",
          "tutkimus",
          "Remes, Pirkko",
          "Sajavaara, Paula",
          "urn:doi:doi2",
          "urn:doif:not-doi",
          "http://doi.org/doi%3a3",
          "https://dx.doi.org/doi4"
        ),
        "language" -> Seq("fin", "fin"),
        "format" -> Seq("Book"),
        "author" -> Seq("Hirsjärvi, Sirkka"),
        "author_variant" -> Seq("s h sh"),
        "author_role" -> Seq(""),
        "author_sort" -> "Hirsjärvi, Sirkka",
        "author2" -> Seq("Remes, Pirkko", "Sajavaara, Paula"),
        "author2_variant" -> Seq("p r pr", "p s ps"),
        "author2_role" -> Seq("", ""),
        "title" -> "Tutki ja kirjoita",
        "title_sub" -> "",
        "title_short" -> "Tutki ja kirjoita",
        "title_full" -> "Tutki ja kirjoita / Sirkka Hirsjärvi, Pirkko Remes, Paula Sajavaara",
        "title_sort" -> "tutki ja kirjoita sirkka hirsjärvi pirkko remes paula sajavaara",
        "publisher" -> Seq("Tammi"),
        "publishDateSort" -> "2013",
        "publishDate" -> Seq("2013"),
        "edition" -> "17. uud. p.",
        "isbn" -> Seq("9789513148362"),
        "doi_str_mv" -> Seq("doi1", "doi2", "doi:3", "doi4"),
        "callnumber-first" -> "QC861.2",
        "callnumber-raw" -> Seq("38.04", "38.03", "QC861.2 .B36"),
        "callnumber-subject" -> "QC",
        "callnumber-label" -> "QC861",
        "callnumber-sort" -> "QC 3861.2 B236",
        "topic" -> Seq(
          "oppaat", "ft: kirjoittaminen", "apurahat", "tutkimusrahoitus",
          "tutkimuspolitiikka", "opinnäytteet", "tiedonhaku", "kielioppaat",
          "tutkimustyö", "tutkimus"
        ),
        "topic_facet" -> Seq(
          "oppaat", "ft: kirjoittaminen", "apurahat", "tutkimusrahoitus",
          "tutkimuspolitiikka", "opinnäytteet", "tiedonhaku", "kielioppaat",
          "tutkimustyö", "tutkimus"
        ),
        "url" -> Seq(
          "urn:doi:doi2",
          "urn:doif:not-doi",
          "http://doi.org/doi%3a3",
          "https://dx.doi.org/doi4"
        ),
        "illustrated" -> "Not Illustrated"
      )
    )
  }

  // ------------------------------------------------------------- marc2

  test("MarcTest::testMarc2 — toSolrArray on marc2.xml") {
    checkSolr(
      "marc2.xml",
      Map(
        "record_format" -> "marc",
        "building" -> Seq("123", "234"),
        "lccn" -> "",
        "ctrlnum" -> Seq("1558192", "FCC002608043"),
        "allfields" -> Seq(
          "Kalat, James W.",
          "Biological psychology",
          "James W. Kalat",
          "7th ed",
          "Belmont, CA",
          "Wadsworth",
          "cop. 2001.",
          "xxiii, 551 sivua",
          "kuvitettu +",
          "CD-ROM -levy",
          "teksti",
          "txt",
          "rdacontent",
          "käytettävissä ilman laitetta",
          "n",
          "rdamedia",
          "nide",
          "nc",
          "rdacarrier",
          "Liitteenä CD-ROM",
          "&12een",
          "&käytt&tdk",
          "&vanha&painos",
          "neuropsykologia",
          "biopsykologia",
          "neuropsykologi",
          "biopsykologi"
        ),
        "language" -> Seq("eng", "eng"),
        "format" -> Seq("Book"),
        "author" -> Seq("Kalat, James W."),
        "author_variant" -> Seq("j w k jw jwk"),
        "author_role" -> Seq(""),
        "author_sort" -> "Kalat, James W.",
        "title" -> "Biological psychology",
        "title_sub" -> "",
        "title_short" -> "Biological psychology",
        "title_full" -> "Biological psychology / James W. Kalat",
        "title_sort" -> "biological psychology james w kalat",
        "publisher" -> Seq("Wadsworth"),
        "publishDateSort" -> "2001",
        "publishDate" -> Seq("2001"),
        "physical" -> Seq("xxiii, 551 sivua : kuvitettu + CD-ROM -levy"),
        "edition" -> "7th ed",
        "isbn" -> Seq("9780534514099", "9780534514006"),
        "topic" -> Seq(
          "neuropsykologia", "biopsykologia", "neuropsykologi", "biopsykologi"
        ),
        "topic_facet" -> Seq(
          "neuropsykologia", "biopsykologia", "neuropsykologi", "biopsykologi"
        ),
        "illustrated" -> "Not Illustrated"
      )
    )
  }

  // ----------------------------------------------------------- marc_geo

  test("MarcTest::testMarcGeo — toSolrArray on marc_geo.xml (geoCenterField set)") {
    checkSolr(
      "marc_geo.xml",
      Map(
        "record_format" -> "marc",
        "building" -> Seq("001"),
        "center_coords" -> Seq(
          "22.125 60.233333333333",
          "22.125 60.233472222223"
        ),
        "long_lat" -> Seq(
          "ENVELOPE(19.5, 24.75, 60.666666666667, 59.8)",
          "ENVELOPE(19.5, 24.75, 60.666666666667, 59.800277777778)"
        ),
        "long_lat_display" -> Seq(
          "19.5 24.75 60.666666666667 59.8",
          "19.5 24.75 60.666666666667 59.800277777778"
        ),
        "lccn" -> "",
        "ctrlnum" -> Seq(
          "(FI-Piki)Ppro837_107786",
          "(PIKI)Ppro837_107786",
          "(FI-MELINDA)000963219"
        ),
        "allfields" -> Seq(
          "Suomen tiekartta",
          "Vägkarta över Finland",
          "1.",
          "Suomen tiekartta 1",
          "1:200000",
          "Helsinki",
          "Maanmittaushallitus",
          "1946.",
          "1 kartta",
          "värillinen",
          "taitettuna 26 x 13 cm",
          "kartografinen kuva",
          "cri",
          "rdacontent",
          "käytettävissä ilman laitetta",
          "n",
          "rdamedia",
          "arkki",
          "nb",
          "rdacarrier",
          "Ahvenanmaa mittakaavassa 1:400000",
          "Kh-kokoelma",
          "tiekartat",
          "kartat",
          "Suomi",
          "Turun ja Porin lääni",
          "yso/fin",
          "Uudenmaan lääni",
          "Ahvenanmaa"
        ),
        "language" -> Seq("fin", "fin", "swe"),
        "format" -> Seq("Map"),
        "author_corporate" -> Seq("Maanmittaushallitus"),
        "author_corporate_role" -> Seq(""),
        "title" -> "Suomen tiekartta = Vägkarta över Finland. 1.",
        "title_sub" -> "Vägkarta över Finland. 1.",
        "title_short" -> "Suomen tiekartta",
        "title_full" -> "Suomen tiekartta = Vägkarta över Finland. 1.",
        "title_alt" -> Seq("Vägkarta över Finland", "Suomen tiekartta 1"),
        "title_sort" -> "suomen tiekartta vägkarta över finland 1",
        "publisher" -> Seq("[Maanmittaushallitus]"),
        "publishDateSort" -> "1946",
        "publishDate" -> Seq("1946"),
        "physical" -> Seq("1 kartta : värillinen ; taitettuna 26 x 13 cm"),
        "edition" -> "",
        "callnumber-raw" -> Seq("42.02"),
        "callnumber-sort" -> "",
        "topic" -> Seq("tiekartat", "kartat Suomi"),
        "geographic" -> Seq(
          "Turun ja Porin lääni", "Uudenmaan lääni", "Ahvenanmaa"
        ),
        "topic_facet" -> Seq("tiekartat", "kartat"),
        "geographic_facet" -> Seq(
          "Suomi", "Turun ja Porin lääni", "Uudenmaan lääni", "Ahvenanmaa"
        ),
        "illustrated" -> "Not Illustrated"
      ),
      geoCenter = true
    )
  }

  // --------------------------------------------------------- marc_dewey

  test("MarcTest::testMarcDewey — toSolrArray on marc_dewey.xml") {
    checkSolr(
      "marc_dewey.xml",
      Map(
        "record_format" -> "marc",
        "lccn" -> "",
        "ctrlnum" -> Seq("FCC016234029", "(OCoLC)123456", "ocn234567"),
        "allfields" -> Seq(
          "Braudel, Fernand",
          "kirjoittaja",
          "Civilisation matérielle, économie et capitalisme, XVe-XVIIIe siècle",
          "le possible et l'impossible",
          "Tome 1",
          "Les structures du quotidien : le possible et l'impossible",
          "Fernand Braudel",
          "Les structures du quotidien",
          "Paris",
          "Armand Colin",
          "1979",
          "© 1979",
          "543 sivua",
          "kuvitettu",
          "24 cm",
          "teksti",
          "txt",
          "rdacontent",
          "käytettävissä ilman laitetta",
          "n",
          "rdamedia",
          "nide",
          "nc",
          "rdacarrier",
          "Autres tirages : 1980, 1984, 1986, 1988, 1992, 2000.",
          "Bibliogr. p. 497-520. Index",
          "Moeurs et coutumes",
          "Études transculturelles",
          "1500-1800",
          "Sociologie du quotidien",
          "Civilisation",
          "Histoire",
          "Histoire sociale",
          "Économie politique",
          "Histoire moderne et contemporaine",
          "Matérialisme",
          "Capitalisme",
          "Civilisation moderne",
          "Histoire économique",
          "Economic history",
          "Social history",
          "Civilization, Modern",
          "History"
        ),
        "language" -> Seq("fre", "fre"),
        "format" -> Seq("Book"),
        "author_sort" -> "Braudel, Fernand",
        "author2" -> Seq("Braudel, Fernand"),
        "author2_variant" -> Seq("f b fb"),
        "author2_role" -> Seq("kirjoittaja"),
        "title" -> ("Civilisation matérielle, économie et capitalisme, XVe-XVIIIe"
          + " siècle : le possible et l'impossible. Tome 1, Les structures du"
          + " quotidien : le possible et l'impossible"),
        "title_sub" -> ("le possible et l'impossible. Tome 1, Les structures du"
          + " quotidien : le possible et l'impossible"),
        "title_short" -> ("Civilisation matérielle, économie et capitalisme,"
          + " XVe-XVIIIe siècle"),
        "title_full" -> ("Civilisation matérielle, économie et capitalisme,"
          + " XVe-XVIIIe siècle : le possible et l'impossible. Tome 1, Les"
          + " structures du quotidien : le possible et l'impossible / Fernand"
          + " Braudel"),
        "title_alt" -> Seq(
          "Les structures du quotidien : le possible et l'impossible"
        ),
        "title_sort" -> ("civilisation matérielle économie et capitalisme"
          + " xve xviiie siècle le possible et l impossible tome 1 les"
          + " structures du quotidien le possible et l impossible fernand"
          + " braudel"),
        "publisher" -> Seq("Armand Colin"),
        "publishDateSort" -> "1979",
        "publishDate" -> Seq("1979"),
        "physical" -> Seq("543 sivua : kuvitettu ; 24 cm"),
        "isbn" -> Seq("9782200371005"),
        "callnumber-raw" -> Seq("940.", "909.", "909.4.", "330.903."),
        "callnumber-sort" -> "",
        "topic" -> Seq(
          "Moeurs et coutumes Études transculturelles 1500-1800",
          "Sociologie du quotidien Études transculturelles",
          "Civilisation Histoire",
          "Histoire sociale 1500-1800",
          "Économie politique",
          "Histoire moderne et contemporaine",
          "Matérialisme Histoire",
          "Capitalisme Histoire",
          "Civilisation moderne Histoire",
          "Histoire économique",
          "Economic history",
          "Social history",
          "Civilization, Modern History"
        ),
        "topic_facet" -> Seq(
          "Moeurs et coutumes",
          "Sociologie du quotidien",
          "Civilisation",
          "Histoire sociale",
          "Économie politique",
          "Histoire moderne et contemporaine",
          "Matérialisme",
          "Capitalisme",
          "Civilisation moderne",
          "Histoire économique",
          "Economic history",
          "Social history",
          "Civilization, Modern",
          "Études transculturelles",
          "Études transculturelles",
          "Histoire",
          "Histoire",
          "Histoire",
          "Histoire",
          "History"
        ),
        "era_facet" -> Seq("1500-1800", "1500-1800"),
        "illustrated" -> "Illustrated",
        "dewey-hundreds" -> "300",
        "dewey-tens" -> "330",
        "dewey-ones" -> "330",
        "dewey-full" -> "330.903",
        "dewey-sort" -> "3330.903 ",
        "dewey-raw" -> "330.903",
        "oclc_num" -> Seq("123456", "234567")
      )
    )
  }

  // ----------------------------------------------------- preview (e2e)

  /** CreatePreviewTest::testCreatePreview: the full record→Solr preview
    * (toSolrArray + SolrUpdater work keys + id prefixing) against the
    * reference's expected preview_result.json. Empty-field cleanup
    * follows SolrUpdater::normalizeFields (SolrUpdater.php:2400): drop
    * '' values from arrays, unique them, drop empty arrays/scalars.
    * `institution` and the epoch first/last_indexed are config plumbing
    * added by the controller, not record derivation — asserted as the
    * constants the fixture pins.
    */
  test("CreatePreviewTest::testCreatePreview — preview_marc.xml end-to-end") {
    val xml = ReferenceFixtures.text("Base/Controller/CreatePreview/preview_marc.xml")
    val rec = MarcXmlFull.parseCollection(xml).head
    val session = spark
    import session.implicits._
    val df = Seq(rec).toDF()
    val base = MarcToSolr.solrColumns(col("leader"), col("controls"), col("fields"))
    val cols = base ++ Seq(
      "id" -> org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("test."),
        MarcToSolr.ctlFirst(col("controls"), "001")
      ),
      "work_keys_str_mv" -> MarcToSolr.workKeys(col("fields"))
    )
    val row = df.select(cols.map { case (n, c) => c.as(n) }: _*).collect()(0)

    val expected = Map[String, Any](
      "record_format" -> "marc",
      "building" -> Seq("150"),
      "allfields" -> Seq(
        "Hirsjärvi, Sirkka",
        "Tutki ja kirjoita",
        "Sirkka Hirsjärvi, Pirkko Remes, Paula Sajavaara"
      ),
      "language" -> Seq("fin"),
      "format" -> Seq("Book"),
      "author" -> Seq("Hirsjärvi, Sirkka"),
      "author_variant" -> Seq("s h sh"),
      "author_sort" -> "Hirsjärvi, Sirkka",
      "title" -> "Tutki ja kirjoita",
      "title_short" -> "Tutki ja kirjoita",
      "title_full" -> "Tutki ja kirjoita / Sirkka Hirsjärvi, Pirkko Remes, Paula Sajavaara",
      "title_sort" -> "tutki ja kirjoita sirkka hirsjärvi pirkko remes paula sajavaara",
      "publishDateSort" -> "2013",
      "publishDate" -> Seq("2013"),
      "isbn" -> Seq("9789513148362"),
      "illustrated" -> "Not Illustrated",
      "id" -> "test.123",
      "work_keys_str_mv" -> Seq("AT hirsjarvisirkka tutkijakirjoita")
    )
    // normalizeFields cleanup, then strict comparison: every surviving
    // field must be in the expected map and vice versa.
    val cleaned: Map[String, Any] = cols.map(_._1).zipWithIndex.flatMap {
      case (n, i) =>
        row.get(i) match {
          case s: String => if (s.isEmpty) None else Some(n -> s)
          case a: scala.collection.Seq[_] =>
            val vs = a.asInstanceOf[scala.collection.Seq[String]].toSeq
              .filter(_.nonEmpty)
              .distinct
            if (vs.isEmpty) None else Some(n -> vs)
          case other => Some(n -> other)
        }
    }.toMap
    assert(cleaned == expected, {
      val extra = cleaned.keySet -- expected.keySet
      val missing = expected.keySet -- cleaned.keySet
      val diff = expected.keySet.intersect(cleaned.keySet).filter(k => cleaned(k) != expected(k))
      s"extra=$extra missing=$missing diff=${diff.map(k => s"$k: got ${cleaned(k)} want ${expected(k)}")}"
    })
  }

  // --------------------------------------------- work identification data

  private def workRow(name: String): Row = {
    val cols = MarcToSolr.workIdColumns(col("fields"))
    recordDf(name).select(cols.map { case (n, c) => c.as(n) }: _*).collect()(0)
  }

  private def rowSeq(row: Row, field: String): Seq[String] =
    row.getAs[scala.collection.Seq[String]](field).toSeq

  private def rowRows(row: Row, field: String): Seq[Row] =
    row.getAs[scala.collection.Seq[Row]](field).toSeq

  private def titlesOf(row: Row, field: String): Seq[(String, String)] =
    rowRows(row, field).map(r => (r.getAs[String]("type"), r.getAs[String]("value")))

  test("MarcTest::testMarc1 — getWorkIdentificationData + getUniqueIDs") {
    val row = workRow("marc1.xml")
    assert(row.getAs[Boolean]("wk_has_work"))
    assert(
      rowSeq(row, "wk_authors") ==
        Seq("Hirsjärvi, Sirkka.", "Remes, Pirkko.", "Sajavaara, Paula.")
    )
    assert(rowSeq(row, "wk_authors_alt").isEmpty)
    assert(titlesOf(row, "wk_titles") == Seq(("title", "Tutki ja kirjoita /")))
    assert(titlesOf(row, "wk_titles_alt").isEmpty)
    assert(rowRows(row, "wk_analytical").isEmpty)

    val ids = recordDf("marc1.xml")
      .select(MarcToSolr.uniqueIds(col("fields")).as("ids"))
      .collect()(0)
      .getAs[scala.collection.Seq[String]]("ids")
      .toSeq
    assert(ids == Seq("(FOO)2345"))
  }

  test("MarcTest::testMarc2 — getWorkIdentificationData") {
    val row = workRow("marc2.xml")
    assert(rowSeq(row, "wk_authors") == Seq("Kalat, James W."))
    assert(titlesOf(row, "wk_titles") == Seq(("title", "Biological psychology /")))
    assert(rowRows(row, "wk_analytical").isEmpty)
  }

  test("MarcTest::testGetWorkIdentificationData — marc_alt_script.xml (880 linkage)") {
    val row = workRow("marc_alt_script.xml")
    assert(rowSeq(row, "wk_authors") == Seq("Kageyama, Terukuni,"))
    assert(rowSeq(row, "wk_authors_alt") == Seq("影山, 輝国,"))
    assert(
      titlesOf(row, "wk_titles") == Seq(
        ("title", "Shinmeikai gendai kanwa jiten /"),
        ("title", "Ōkina katsuji no shinmeikai gendai kanwa jiten")
      )
    )
    assert(
      titlesOf(row, "wk_titles_alt") == Seq(("title", "漢字源 : 上級漢和辞典  /"))
    )
    assert(rowRows(row, "wk_analytical").isEmpty)
  }

  /** Marc.php normalize() (:1368) Koha/Alma holdings conversion —
    * self-authored branch coverage traced from the PHP (no reference
    * unit test exists for this path): grouping + first-occurrence
    * order, Alma `$1` availability, Koha marked-subfield vetoes and
    * the not-for-loan status gate, kohaUseHomeBranch.
    */
  test("Marc normalize() — Koha/Alma 952 holdings conversion") {
    import graft.sources.MarcXmlFull.{Field, Subf}
    def item(subs: (String, String)*) =
      Field("952", " ", " ", subs.map { case (c, v) => Subf(c, v) })
    val rec = MarcXmlFull.Rec(
      "ldr",
      Seq.empty,
      Seq(
        item("a" -> "HOME1", "b" -> "BR1", "c" -> "LOC1", "7" -> "0"),
        item("a" -> "HOME1", "b" -> "BR1", "c" -> "LOC1", "q" -> "2020-01-01"),
        item("a" -> "HOME2", "b" -> "BR2", "c" -> "LOC2", "1" -> "1"),
        Field("245", "1", "0", Seq(Subf("a", "T")))
      )
    )
    val session = spark
    import session.implicits._
    val df = Seq(rec).toDF()

    def holdings(c: org.apache.spark.sql.Column) =
      df.select(c.as("f")).collect()(0).getAs[scala.collection.Seq[Row]]("f")
        .filter(_.getAs[String]("tag") == "952")
        .map(f =>
          f.getAs[scala.collection.Seq[Row]]("subs")
            .map(sf => (sf.getAs[String]("c"), sf.getAs[String]("v")))
            .toList
        )
        .toList

    // Koha: items group by branch+loc; group BR1/LOC1 has an available
    // item ($7='0', no vetoes) AND a vetoed one ($q due date) → $9=1
    // because ANY member is available. BR2/LOC2 has only $1='1' which in
    // KOHA vocabulary means LOST → unavailable.
    val koha = holdings(
      MarcToSolr.normalizeHoldings(col("fields"), alma = false)
    )
    assert(
      koha == List(
        List("b" -> "BR1", "c" -> "LOC1", "9" -> "1"),
        List("b" -> "BR2", "c" -> "LOC2")
      ),
      koha
    )

    // Alma: availability is exactly $1 == '1' → only BR2/LOC2 available.
    val alma = holdings(
      MarcToSolr.normalizeHoldings(col("fields"), alma = true)
    )
    assert(
      alma == List(
        List("b" -> "BR1", "c" -> "LOC1"),
        List("b" -> "BR2", "c" -> "LOC2", "9" -> "1")
      ),
      alma
    )

    // kohaUseHomeBranch: the grouping key and the emitted branch come
    // from $a, but the subfield stays 'b'.
    val home = holdings(
      MarcToSolr.normalizeHoldings(col("fields"), alma = false, useHome = true)
    )
    assert(home.map(_.head) == List("b" -> "HOME1", "b" -> "HOME2"), home)
  }

  test("MarcTest::testGetWorkIdentificationData — marc_analytical.xml (7xx ind2=2)") {
    val row = workRow("marc_analytical.xml")
    assert(
      rowSeq(row, "wk_authors") ==
        Seq("Shakespeare, William.", "Jylhä, Yrjö,")
    )
    assert(
      titlesOf(row, "wk_titles") == Seq(
        ("title", "William Shakespearen suuret draamat. 2 /"),
        ("title", "Suuret draamat")
      )
    )
    val ana = rowRows(row, "wk_analytical")
      .map(r => (r.getAs[String]("author"), r.getAs[String]("title")))
    assert(
      ana == Seq(
        ("Shakespeare, William.", "Hamlet,"),
        ("Shakespeare, William.", "Othello,")
      )
    )
  }
}
