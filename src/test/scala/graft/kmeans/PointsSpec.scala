package graft.kmeans

import java.nio.file.Files

import graft.SparkSpec

class PointsSpec extends SparkSpec {

  test("parseSeedLine accepts plain CSV") {
    Points.parseSeedLine("1.5,2.5,3.5") shouldBe Some(Point(1.5, 2.5, 3.5))
  }

  test("parseSeedLine accepts iteration-output TSV") {
    Points.parseSeedLine("3\t1.5,2.5,3.5") shouldBe Some(Point(1.5, 2.5, 3.5))
  }

  test("parseSeedLine accepts clustered-data output (strips member list)") {
    Points.parseSeedLine("2\t1.0,2.0,3.0; 9,9,9; 8,8,8") shouldBe Some(Point(1.0, 2.0, 3.0))
  }

  test("parseSeedLine rejects malformed lines") {
    Points.parseSeedLine("1,2") shouldBe None
    Points.parseSeedLine("a,b,c") shouldBe None
    Points.parseSeedLine("") shouldBe None
    Points.parseSeedLine("7\t") shouldBe None
  }

  private def writeTmp(lines: Seq[String]): String = {
    val f = Files.createTempFile("points", ".csv")
    Files.writeString(f, lines.mkString("\n"))
    f.toFile.deleteOnExit()
    f.toString
  }

  test("readCsv drops malformed lines (wrong arity, non-numeric, empty field)") {
    val path = writeTmp(Seq("1,2,3", "4,5", "a,b,c", "7,8,", "10,11,12"))
    val rows = Points.readCsv(spark, path).collect()
    rows.map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSet shouldBe
      Set((1.0, 2.0, 3.0), (10.0, 11.0, 12.0))
  }

  test("readCsvWithRaw drops malformed lines and keeps the raw text (ANSI-safe)") {
    val path = writeTmp(Seq("1,2,3", "4,5", "x,y,z", "7,8,"))
    val rows = Points.readCsvWithRaw(spark, path).collect()
    rows.length shouldBe 1
    rows.head.getString(0) shouldBe "1,2,3"
    rows.head.getDouble(1) shouldBe 1.0
  }

  test("readSeeds loads the reference K=5 seed file") {
    val seeds = Points.readSeeds(refFile("seed_points_K5.csv"))
    seeds should have size 5
    seeds.head shouldBe Point(8296, 403, 670)
  }
}
