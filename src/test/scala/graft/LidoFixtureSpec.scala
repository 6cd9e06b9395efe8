package graft

import graft.operators.LidoToSolr
import graft.sources.LidoXml
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Field-by-field `toSolrArray` parity with the reference's OWN LIDO
  * record-driver tests (tests/RecordManagerTest/Base/Record/LidoTest.php)
  * on the reference's own fixtures: lido1 under default AND non-merged
  * title params, lido3's title-equals-work-type replacement (both
  * driver-param settings), and lido2's work identification data.
  * Comparison follows compareArray's loose semantics.
  */
class LidoFixtureSpec extends SparkSuite {

  private def recordDf(name: String): DataFrame = {
    val xml = ReferenceFixtures.text(s"Base/record/$name")
    val rec = LidoXml.parse(xml)
    val session = spark
    import session.implicits._
    Seq(Tuple1(rec)).toDF("rec")
  }

  private def solrRow(name: String, p: LidoToSolr.Params): (Seq[String], Row) = {
    val cols = LidoToSolr.solrColumns(col("rec"), p)
    val out = recordDf(name).select(cols.map { case (n, c) => c.as(n) }: _*)
    (cols.map(_._1), out.collect()(0))
  }

  private def checkSolr(
      fixture: String,
      p: LidoToSolr.Params,
      expected: Map[String, Any]
  ): Unit = {
    val (names, row) = solrRow(fixture, p)
    val emitted = names.toSet
    for (k <- expected.keys)
      assert(emitted.contains(k), s"[$fixture] expected field not emitted at all: $k")
    for ((n, i) <- names.zipWithIndex) {
      val v = row.get(i)
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

  private val lido1Shared = Map[String, Any](
    "record_format" -> "lido",
    "description" -> "",
    "format" -> "Kirja",
    "institution" -> "Test Institution",
    "author" -> Seq("Designer, Test", "Luhtanen, Raimo"),
    "author_sort" -> "Designer, Test",
    "topic_facet" -> Seq("retkeily", "ulkoilu"),
    "topic" -> Seq("retkeily", "ulkoilu"),
    "collection" -> "",
    "ctrlnum" -> Seq("(knp)M011-320623"),
    "isbn" -> Seq("9789518593730", "9789518593731", "9789518593732"),
    "issn" -> Seq("0357-5284"),
    "allfields" -> Seq(
      "knp-247394",
      "Kirja",
      "Säädökset",
      "Luonnonsuojelusäädökset / toimittanut Raimo Luhtanen",
      "Test Institution",
      "26054",
      "9518593736",
      "9789518593731",
      "9789518593732",
      "0357-5284",
      "retkeily",
      "ulkoilu",
      "Luhtanen, Raimo",
      "Designer, Test",
      "M011-320623",
      "Test Institution",
      "247394"
    )
  )

  test("LidoTest::testLido1 — toSolrArray + work data (merged titles)") {
    val merged = "Luonnonsuojelusäädökset / toimittanut Raimo Luhtanen; Säädökset"
    checkSolr(
      "lido1.xml",
      LidoToSolr.Params(),
      lido1Shared ++ Map(
        "title_full" -> merged,
        "title_short" -> merged,
        "title" -> merged,
        "title_sort" -> "luonnonsuojelusäädökset toimittanut raimo luhtanen säädökset",
        "title_alt" -> Seq.empty[String]
      )
    )
    val wk = recordDf("lido1.xml")
      .select(
        LidoToSolr.workIdColumns(col("rec")).map { case (n, c) => c.as(n) }: _*
      )
      .collect()(0)
    assert(
      wk.getAs[scala.collection.Seq[String]]("wk_authors").toSeq ==
        Seq("Designer, Test", "Luhtanen, Raimo")
    )
    assert(wk.getAs[scala.collection.Seq[String]]("wk_titles").toSeq == Seq(merged))
  }

  test("LidoTest::testLido1NonMergedTitle — toSolrArray + work data") {
    val main = "Luonnonsuojelusäädökset / toimittanut Raimo Luhtanen"
    val p = LidoToSolr.Params(mergeTitleValues = false, mergeTitleSets = false)
    checkSolr(
      "lido1.xml",
      p,
      lido1Shared ++ Map(
        "title_full" -> main,
        "title_short" -> main,
        "title" -> main,
        "title_sort" -> "luonnonsuojelusäädökset toimittanut raimo luhtanen",
        "title_alt" -> Seq("Säädökset")
      )
    )
    val wk = recordDf("lido1.xml")
      .select(
        LidoToSolr.workIdColumns(col("rec"), p).map { case (n, c) => c.as(n) }: _*
      )
      .collect()(0)
    assert(
      wk.getAs[scala.collection.Seq[String]]("wk_titles").toSeq ==
        Seq(main, "Säädökset")
    )
  }

  test("LidoTest::testLido3TitleEqualsWorkType — description replacement") {
    val (names, row) = solrRow("lido3.xml", LidoToSolr.Params())
    val idx = names.zipWithIndex.toMap
    assert(row.getString(idx("title")) == "Maisema")
    assert(row.getString(idx("title_full")) == "Maisema")
    assert(row.getString(idx("title_short")) == "Maisema")
    assert(row.getString(idx("title_sort")) == "maisema")

    val (names2, row2) =
      solrRow("lido3.xml", LidoToSolr.Params(allowTitleToMatchFormat = true))
    val idx2 = names2.zipWithIndex.toMap
    assert(row2.getString(idx2("title")) == "Maalaus")
    assert(row2.getString(idx2("title_sort")) == "maalaus")
  }

  test("LidoTest::testLidoWorkKeys — lido2 multi-language title sets") {
    val wk = recordDf("lido2.xml")
      .select(
        LidoToSolr.workIdColumns(col("rec")).map { case (n, c) => c.as(n) }: _*
      )
      .collect()(0)
    assert(wk.getAs[scala.collection.Seq[String]]("wk_authors").toSeq.isEmpty)
    assert(
      wk.getAs[scala.collection.Seq[String]]("wk_titles").toSeq ==
        Seq("Kitchen tool; Scissors", "Keittiövälineet; Sakset")
    )
  }
}
