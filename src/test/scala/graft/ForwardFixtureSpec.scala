package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.operators.ForwardToSolr
import graft.sources.ForwardXml
import org.apache.spark.sql.functions.col

import scala.jdk.CollectionConverters._

/** Field-by-field `toSolrArray` parity with the reference's OWN Forward
  * record-driver test (tests/RecordManagerTest/Base/Record/
  * ForwardTest.php testForward1) on forward1.xml. The expected table is
  * the PHPUnit source's `$expected` array machine-converted to
  * `src/test/resources/forward1_expected.json` (872 values incl. the
  * 480-entry allfields walk and the all-agents author_corporate quirk
  * of the default empty corporate relator list).
  */
class ForwardFixtureSpec extends SparkSuite {

  test("ForwardTest::testForward1 — toSolrArray on forward1.xml") {
    val xml = ReferenceFixtures.text("Base/record/forward1.xml")
    val rec = ForwardXml.parse(xml)
    val session = spark
    import session.implicits._
    val df = Seq(Tuple1(rec)).toDF("rec")
    val cols = ForwardToSolr.solrColumns(col("rec"))
    val row = df.select(cols.map { case (n, c) => c.as(n) }: _*).collect()(0)

    val expectedJson = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("src/test/resources/forward1_expected.json")
      ),
      "UTF-8"
    )
    val node = new ObjectMapper().readTree(expectedJson)
    val expectedKeys = node.fieldNames().asScala.toSet

    val emitted = cols.map(_._1).toSet
    for (k <- expectedKeys if k != "fullrecord")
      assert(emitted.contains(k), s"expected field not emitted at all: $k")

    for (((n, _), i) <- cols.zipWithIndex) {
      val v = row.get(i)
      if (node.has(n)) {
        val e = node.get(n)
        if (e.isTextual) {
          assert(v == e.asText, s"$n: got '$v' expected '${e.asText}'")
        } else {
          val want = e.elements().asScala.map(_.asText).toSeq
          val got = v.asInstanceOf[scala.collection.Seq[String]].toSeq
          assert(got == want, {
            val firstDiff =
              got.zipAll(want, "<missing>", "<missing>").zipWithIndex.find {
                case ((a, b), _) => a != b
              }
            s"$n: sizes ${got.size}/${want.size}, first diff $firstDiff"
          })
        }
      } else {
        v match {
          case s: String => assert(s == "", s"unexpected non-empty $n: '$s'")
          case a: scala.collection.Seq[_] =>
            assert(a.isEmpty, s"unexpected non-empty $n: $a")
          case other => fail(s"unexpected $n: $other")
        }
      }
    }
  }
}
