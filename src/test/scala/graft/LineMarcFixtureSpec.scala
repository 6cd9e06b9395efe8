package graft

import graft.sources.LineMarc
import scala.xml.XML

/** Config-driven line-MARC conversion against the reference's OWN
  * fixtures (tests/fixtures/Base/utils/LineBasedMarcFormatter/): the
  * Alma pipe-dialect record and the GeniePlus ‡-dialect records (good
  * and bad-characters variants) must convert to exactly the field set
  * the reference's expected MARCXML files encode — leader padding,
  * control/data split, `_`→blank indicators, subfield order, and the
  * illegal-XML-character count (LineBasedMarcFormatterTest.php).
  */
class LineMarcFixtureSpec extends SparkSuite {

  private val genieConfig = Seq(
    LineMarc.Format(
      "‡([a-z0-9])",
      endOfLineMarker = Some('^'),
      ind1Offset = 3,
      ind2Offset = 4,
      contentOffset = 4,
      firstSubfieldOffset = 5
    )
  )

  /** Flatten an expected MARCXML file to the same Field list shape. */
  private def expectedFields(name: String): Seq[LineMarc.Field] = {
    val root = XML.loadFile(ReferenceFixtures.path(fixture(name)).toFile)
    val records = if (root.label == "record") Seq(root) else (root \ "record")
    records.flatMap { rec =>
      val leader = (rec \ "leader").map(l => LineMarc.Field("LDR", "", "", "", l.text))
      val control = (rec \ "controlfield").map { c =>
        LineMarc.Field((c \ "@tag").text, "", "", "", c.text)
      }
      val data = (rec \ "datafield").flatMap { d =>
        (d \ "subfield").map { sf =>
          LineMarc.Field(
            (d \ "@tag").text,
            (d \ "@ind1").text,
            (d \ "@ind2").text,
            (sf \ "@code").text,
            sf.text
          )
        }
      }
      leader ++ control ++ data
    }
  }

  private def fixture(name: String): String = s"Base/utils/LineBasedMarcFormatter/$name"

  private def read(name: String): String = ReferenceFixtures.text(fixture(name))

  test("Alma fixture (pipe dialect, auto-detected) matches the expected MARCXML") {
    val (fields, bad) = LineMarc.convertConfigured(read("alma.txt"))
    assert(fields == expectedFields("alma.xml"))
    assert(bad == 0)
  }

  test("GeniePlus fixture (custom ‡ config) matches the expected MARCXML") {
    val (fields, bad) = LineMarc.convertConfigured(read("genieplus.txt"), genieConfig)
    assert(fields == expectedFields("genieplus.xml"))
    assert(bad == 0)
  }

  test("bad-characters fixture converts with the expected illegal-char count") {
    val (fields, bad) = LineMarc.convertConfigured(read("bad.txt"), genieConfig)
    assert(fields.nonEmpty)
    assert(bad == 2, s"illegal-XML-character runs: $bad")
    // the surviving fields still match the reference's cleaned output
    val expected = expectedFields("bad.xml")
    assert(fields.map(_.tag) == expected.map(_.tag))
  }
}
