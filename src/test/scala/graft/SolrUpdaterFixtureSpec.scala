package graft

import graft.operators.{MarcToSolr, SolrUpdateQueries}
import graft.sources.MarcXmlFull
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SolrUpdater parity against the reference's OWN SolrUpdaterTest
  * (tests/RecordManagerTest/Base/Solr/SolrUpdaterTest.php): the
  * fieldRules case table (testFieldProcessingRules — copy/move/delete
  * with quoted/positional defaults and value/regex matches, applied to
  * the real marc1-derived document), and the Solr Field Limits
  * normalization over marc-broken.xml (testProcessSingleRecord —
  * wildcard limit resolution and per-value trimming). PHP scalar fields
  * correspond to 1-element arrays in the columnar document model.
  */
class SolrUpdaterFixtureSpec extends SparkSuite {

  private def recDf(name: String): DataFrame = {
    val xml = ReferenceFixtures.text(s"Base/record/$name")
    val rec = MarcXmlFull.parseCollection(xml).head
    val session = spark
    import session.implicits._
    Seq(rec).toDF()
  }

  private val marc1TopicAll = Seq(
    "oppaat", "ft: kirjoittaminen", "apurahat", "tutkimusrahoitus",
    "tutkimuspolitiikka", "opinnäytteet", "tiedonhaku", "kielioppaat",
    "tutkimustyö", "tutkimus"
  )
  private val tutkimus =
    Seq("tutkimusrahoitus", "tutkimuspolitiikka", "tutkimustyö", "tutkimus")

  private def runRules(rules: Seq[String]): Map[String, Option[Seq[String]]] = {
    val df = recDf("marc1.xml")
    val topicCol = MarcToSolr
      .solrColumns(col("leader"), col("controls"), col("fields"))
      .toMap
      .apply("topic")
    val doc0 = Map(
      "institution" -> array(lit("Test")),
      "record_format" -> array(lit("marc")),
      "topic" -> topicCol
    )
    val doc = SolrUpdateQueries.applyFieldRules(
      doc0,
      rules.map(SolrUpdateQueries.parseRule)
    )
    val names = doc.keys.toSeq
    val row = df.select(names.map(n => doc(n).as(n)): _*).collect()(0)
    names.zipWithIndex.map { case (n, i) =>
      n -> Option(row.get(i))
        .map(_.asInstanceOf[scala.collection.Seq[String]].toSeq)
    }.toMap
  }

  test("SolrUpdaterTest::testFieldProcessingRules — full case table on marc1") {
    // (rules, expected) pairs transcribed from processSingleRecordProvider;
    // PHP null ≙ None, scalar ≙ 1-element list.
    val cases: Seq[(Seq[String], Map[String, Option[Seq[String]]])] = Seq(
      Seq("copy foo newfield") -> Map("newfield" -> None),
      Seq("copy foo newfield DEFAULT VALUE") ->
        Map("newfield" -> Some(Seq("DEFAULT VALUE"))),
      Seq("copy foo newfield default=\"DEFAULT FIELD\"") ->
        Map("newfield" -> Some(Seq("DEFAULT FIELD"))),
      Seq("copy institution newfield") -> Map("newfield" -> Some(Seq("Test"))),
      Seq("copy institution newfield match=\"Test\"") ->
        Map("newfield" -> Some(Seq("Test"))),
      Seq("copy institution newfield match=\"/^Test$/\"") ->
        Map("newfield" -> Some(Seq("Test"))),
      Seq("copy institution newfield match=\"/^test$/i\"") ->
        Map("newfield" -> Some(Seq("Test"))),
      Seq("copy institution newfield match=\"/test/\" ") ->
        Map("newfield" -> None),
      Seq("delete institution") -> Map("institution" -> None),
      Seq("delete institution match=\"Test\"") -> Map("institution" -> None),
      Seq(
        "copy institution newfield",
        "copy record_format newfield",
        "delete institution"
      ) -> Map(
        "newfield" -> Some(Seq("Test", "marc")),
        "institution" -> None
      ),
      Seq(
        "move institution newfield DEFAULT",
        "move institution newfield DEFAULT2 "
      ) -> Map(
        "newfield" -> Some(Seq("Test", "DEFAULT2")),
        "institution" -> None
      ),
      Seq("copy topic newtopic match=\"/^tutkimus/\"") -> Map(
        "newtopic" -> Some(tutkimus),
        "topic" -> Some(marc1TopicAll)
      ),
      Seq("move topic newtopic match=\"/^tutkimus/\"") -> Map(
        "newtopic" -> Some(tutkimus),
        "topic" -> Some(marc1TopicAll.filterNot(tutkimus.contains))
      ),
      Seq("delete topic") -> Map("topic" -> None),
      Seq("delete topic match=\"/^tutkimus/\"") -> Map(
        "topic" -> Some(marc1TopicAll.filterNot(tutkimus.contains))
      )
    )
    for (((rules, expected), idx) <- cases.zipWithIndex) {
      val result = runRules(rules)
      for ((field, want) <- expected) {
        assert(
          result.getOrElse(field, None) == want,
          s"case $idx (${rules.mkString("; ")}) field $field: " +
            s"got ${result.getOrElse(field, None)} want $want"
        )
      }
    }
  }

  test("SolrUpdaterTest::testProcessSingleRecord — field limits on marc-broken") {
    val limits = Seq(
      "__default__" -> 1024,
      "fullrecord" -> 32766,
      "fulltext" -> 0,
      "fulltext_unstemmed" -> 0,
      "long_lat" -> 0,
      "*_keys_*" -> 20,
      "title_sh*" -> 30,
      "*sort" -> 40
    )
    // Wildcard limit resolution itself (exact > wildcard > default, 0 = no
    // trim — SolrUpdater.php:3213 trimFieldLength).
    assert(SolrUpdateQueries.maxLenFor("title_short", limits).contains(30))
    assert(SolrUpdateQueries.maxLenFor("title_sort", limits).contains(40))
    assert(SolrUpdateQueries.maxLenFor("work_keys_str_mv", limits).contains(20))
    assert(SolrUpdateQueries.maxLenFor("allfields", limits).contains(1024))
    assert(SolrUpdateQueries.maxLenFor("long_lat", limits).isEmpty)
    assert(SolrUpdateQueries.maxLenFor("fullrecord", limits).contains(32766))

    val df = recDf("marc-broken.xml")
    val solr = MarcToSolr
      .solrColumns(col("leader"), col("controls"), col("fields"))
      .toMap
    def norm(f: String, c: org.apache.spark.sql.Column) =
      SolrUpdateQueries.normalizeField(f, c, limits).as(f)
    val row = df
      .select(
        MarcToSolr.ctlFirst(col("controls"), "001").as("id"),
        solr("ctrlnum").as("ctrlnum"),
        norm("allfields", solr("allfields")),
        norm("topic_facet", solr("topic_facet")),
        norm("work_keys_str_mv", MarcToSolr.workKeys(col("fields"))),
        substring(solr("title_short"), 1, 30).as("title_short"),
        substring(solr("title_sort"), 1, 40).as("title_sort")
      )
      .collect()(0)

    def seqOf(n: String): Seq[String] =
      row.getAs[scala.collection.Seq[String]](n).toSeq

    assert(row.getAs[String]("id") == "63")
    assert(seqOf("ctrlnum") == Seq("FCC004782937", "63"))
    assert(seqOf("allfields").map(_.length).max == 1024)
    assert(seqOf("topic_facet").map(_.length).max == 1024)
    assert(seqOf("work_keys_str_mv").map(_.length).max == 20)
    assert(row.getAs[String]("title_short").length == 30)
    assert(row.getAs[String]("title_sort").length == 40)
  }

  /** PreviewCreatorTest::testBuilding: holdings_record.xml 852 $b/$c
    * location pairs (subLocationInBuilding=c) mapped through the
    * per-level building.map (exact, ##default DEF) + building_sub.map
    * (regexp, empty-rewrite stop) chain — every hierarchy-mapping
    * branch: plain map, mapped sub, sub mapped away, level-0 mapped
    * away (drops the value), default + sub.
    */
  test("PreviewCreatorTest::testBuilding — hierarchical building mapping") {
    import graft.operators.FieldMapping
    import org.apache.spark.sql.functions._
    val df = recDf2("Base/Solr/holdings_record.xml")
    val buildingMap = FieldMapping.MapFile(
      "normal",
      Seq("A1" -> Seq("A"), "A2" -> Seq("A"), "B1" -> Seq("B"), "C1" -> Seq("")),
      default = Some("DEF")
    )
    val subMap = FieldMapping.MapFile(
      "regexp",
      Seq("^(\\d)$" -> Seq("$1"), "(.+)" -> Seq(""))
    )
    val pairs = transform(
      filter(
        MarcToSolr.flds(col("fields"), "852"),
        f => MarcToSolr.subFirst(f, "b") =!= ""
      ),
      f =>
        filter(
          array(MarcToSolr.subFirst(f, "b"), MarcToSolr.subFirst(f, "c")),
          v => v =!= ""
        )
    )
    val mapped = transform(
      pairs,
      p => FieldMapping.mapHierarchyValue(p, Seq(buildingMap, subMap))
    )
    val building = filter(array_distinct(mapped), v => v =!= "")
    val got = df
      .select(building.as("building"))
      .collect()(0)
      .getAs[scala.collection.Seq[String]]("building")
      .toSeq
    assert(got == Seq("B", "A/2", "A", "DEF/2"), got)
  }

  private def recDf2(fixture: String): DataFrame = {
    val xml = ReferenceFixtures.text(fixture)
    val rec = MarcXmlFull.parseCollection(xml).head
    val session = spark
    import session.implicits._
    Seq(rec).toDF()
  }
}
