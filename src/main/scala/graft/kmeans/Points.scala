package graft.kmeans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** A 3-D point / centroid.
  *
  * Reference data model: every record is a line of 3 comma-separated
  * doubles parsed ad hoc (reference `Task1.java:27-30`); centroids are
  * `double[3]` (reference `Task1.java:57-78`). Here both are one typed
  * case class, used as `Dataset[Point]` rows on the distributed side and
  * as plain driver-side values for the (tiny, K-row) centroid state.
  */
case class Point(x: Double, y: Double, z: Double)

/** Sources for the K-Means pipeline (reference ops S1/S2).
  *
  * S1 — point scan: headerless CSV `x,y,z` (reference `Task1.java:26-34`).
  * Malformed lines (arity != 3, unparseable doubles) are silently dropped,
  * mirroring the reference's skip-with-warning (reference `Task2.java:77-89`).
  *
  * S2 — seed/centroid side input: in the reference every map task re-reads
  * the seed file from the filesystem in `setup()` (reference
  * `Task1.java:20-23,57-78`). The Spark-native replacement is a driver-side
  * read of the K-row file; the caller distributes the result via closure
  * capture / broadcast. The loader accepts all three on-disk formats the
  * reference produces (reference `Task2.java:60-74`,
  * `SilhouetteEvaluation3.java:61-75`):
  *   - plain seed CSV:          `x,y,z`
  *   - iteration output TSV:    `clusterId\tx,y,z`
  *   - clustered-data output:   `clusterId\tcx,cy,cz; p1x,p1y,p1z; ...`
  */
object Points {

  val schema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false)))

  /** S1: distributed CSV point scan. DROPMALFORMED handles wrong-arity /
    * unparseable lines; the explicit null filter additionally drops lines
    * with *empty* fields (e.g. `1,2,`), which the file source leaves as
    * nulls because it forces a nullable schema — a null would otherwise
    * reach Assign, get a null cluster and fail `KMeansRunner.step`.
    */
  def readCsv(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(path)
      .filter(col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
  }

  /** S1 variant that also keeps the raw input line as `_raw`. The reference
    * shuffles the *unparsed* `Text` line as the map value (reference
    * `Task1.java:33`) and the clustered-data sink re-emits it verbatim
    * (reference `SilhouetteEvaluation2.java:118-126`), so byte parity with
    * those goldens needs the original text, not re-rendered doubles.
    */
  def readCsvWithRaw(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // try_element_at + try_cast: Spark 4 runs with spark.sql.ansi.enabled=true,
    // where getItem on a short array / cast of a non-numeric token would THROW
    // instead of yielding null — the try_ variants restore null-on-failure so
    // malformed lines are filtered, not fatal.
    def axis(i: Int) =
      expr(s"try_cast(try_element_at(split(value, ','), $i) AS DOUBLE)")
    spark.read.text(path)
      .select(
        col("value").as("_raw"),
        axis(1).as("x"), axis(2).as("y"), axis(3).as("z"))
      .filter(size(split(col("_raw"), ",")) === 3 &&
        col("x").isNotNull && col("y").isNotNull && col("z").isNotNull)
  }

  /** S2: driver-side seed/centroid load (K rows, dual/triple format). */
  def readSeeds(path: String): Seq[Point] = {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().flatMap(parseSeedLine).toList
    finally src.close()
  }

  private[graft] def parseSeedLine(line: String): Option[Point] = {
    val coords: Array[String] =
      if (line.contains("\t")) {
        val parts = line.split("\t")
        if (parts.length < 2) return None
        // `;`-aware: strip trailing member list of clustered-data output
        parts(1).split(";")(0).split(",")
      } else line.split(",")
    if (coords.length != 3) None
    else
      try Some(Point(coords(0).trim.toDouble, coords(1).trim.toDouble, coords(2).trim.toDouble))
      catch { case _: NumberFormatException => None }
  }
}
