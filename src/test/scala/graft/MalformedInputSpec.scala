package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Dirty-input semantics — what a 100 TB ingest actually faces: corrupt JSON
  * strings, malformed CSV rows under PERMISSIVE vs FAILFAST. */
class MalformedInputSpec extends SparkSpec {
  import spark.implicits._

  test("from_json yields null (not failure) on corrupt records") {
    val df = Seq("""{"k": 7}""", """not json at all""", """{"k": "str"}""")
      .toDF("props")
      .select(from_json(col("props"), lit("k INT")).as("j"))
      .select(col("j.k").as("k"))
    assert(df.collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
      .toSeq == Seq(Some(7), None, None))
  }

  test("bloom filter ignores null values; absent probes report not-present") {
    import graft.operators.Analytics
    val df = Seq(Some("alpha"), None, Some("beta"), None).toDF("v")
    // Nulls are filtered before hashing (a null has no membership bits) —
    // the bitset is exactly the two non-null values' bits.
    val nBits = Analytics.bloomFilter(df, "v").count()
    val nBitsNonNull = Analytics.bloomFilter(
      Seq("alpha", "beta").toDF("v"), "v").count()
    assert(nBits == nBitsNonNull && nBits > 0)
    val out = Analytics.bloomProbe(df, "v", Seq("alpha", "gamma"))
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getLong(2))).toMap
    assert(out("alpha") == (true, 1L))
    // m=65536 over 2 values: collision odds are nil — a deterministic miss.
    assert(out("gamma") == (false, 0L))
  }

  test("csv PERMISSIVE nulls bad cells; FAILFAST throws") {
    val dir = TempDirs.dir("graft_badcsv")
    Files.writeString(dir.resolve("x.csv"), "1,a\nnot_a_number,b\n3,c\n")
    val schema = "id LONG, name STRING"
    val permissive = spark.read.schema(schema).option("mode", "PERMISSIVE")
      .csv(dir.toString).collect()
    assert(permissive.length == 3)
    assert(permissive.count(_.isNullAt(0)) == 1)
    val failfast = intercept[org.apache.spark.SparkException] {
      spark.read.schema(schema).option("mode", "FAILFAST")
        .csv(dir.toString).collect()
    }
    assert(failfast.getMessage.toLowerCase.contains("malformed")
      || String.valueOf(failfast.getCause).toLowerCase.contains("malformed"))
  }
}
