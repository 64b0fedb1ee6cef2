package graft.model

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Native LabelsFingerprint must be bit-identical to the composed
  * xxhash64(to_json(sorted-entries)) form: the store PERSISTS fingerprints,
  * so any drift between implementations (or versions) silently breaks the
  * series-dictionary joins.
  */
class FingerprintSpec extends SparkSpec {

  /** The composed form the native expression must equal. */
  private def fingerprintOfSpec(labels: Column): Column =
    xxhash64(to_json(map_from_entries(array_sort(map_entries(labels)))))

  test("native fingerprint equals the composed spec on real label maps") {
    val both = Tables.logs(spark, sf)
      .select(col("labels"))
      .select(Tables.fingerprintOf(col("labels")).as("n"),
        fingerprintOfSpec(col("labels")).as("s"))
      .filter(col("n") =!= col("s"))
    assert(both.count() == 0)
  }

  test("native fingerprint equals the spec on edge label maps") {
    val s = spark
    import s.implicits._
    // unsorted insert order, escapes, control chars, empty strings,
    // non-ASCII keys (UTF8 binary vs UTF-16 order), null values, empty map
    val cases: Seq[Map[String, String]] = Seq(
      Map("z" -> "1", "a" -> "2", "m" -> "3"),
      Map("q\"uote" -> "back\\slash", "tab" -> "a\tb", "nl" -> "a\nb"),
      Map("ctl" -> "ab", "" -> "empty-key", "k" -> ""),
      Map("é" -> "e-acute", "z" -> "ascii", "€" -> "euro"),
      Map.empty[String, String])
    val df = cases.toDF("labels")
    val diff = df.select(Tables.fingerprintOf(col("labels")).as("n"),
        fingerprintOfSpec(col("labels")).as("s"))
      .filter(col("n") =!= col("s"))
    assert(diff.count() == 0)
    // null map values (OTLP metric labels can carry them)
    val withNull = df.select(
      map_concat(col("labels"), map(lit("nullv"), lit(null).cast("string")))
        .as("labels"))
    val diff2 = withNull.select(Tables.fingerprintOf(col("labels")).as("n"),
        fingerprintOfSpec(col("labels")).as("s"))
      .filter(col("n") =!= col("s"))
    assert(diff2.count() == 0)
  }
}
