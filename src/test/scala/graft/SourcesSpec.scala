package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame

/** Lossless round-trips through every standard format (SURVEY §2.2 scans/
  * sinks): csv and json (schema-forced read), orc and parquet (self-
  * describing, incl. nested arrays), text (reference line-file parity). */
class SourcesSpec extends SparkSpec {

  private lazy val tmp = TempDirs.dir("graft_sources").toString

  private def sortedRows(df: DataFrame): Array[String] =
    df.collect().map(_.toString).sorted

  test("csv round-trip preserves customer exactly") {
    val orig = Tables.customer(spark, sf0001)
    val back = Sources.roundTrip(spark, orig, "csv", s"$tmp/customer_csv")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }

  test("json round-trip preserves orders (incl. timestamps)") {
    val orig = Tables.orders(spark, sf0001)
    val back = Sources.roundTrip(spark, orig, "json", s"$tmp/orders_json")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }

  test("orc round-trip preserves embeddings (incl. float arrays)") {
    val orig = Tables.embeddings(spark, sf0001)
    val back = Sources.roundTrip(spark, orig, "orc", s"$tmp/embeddings_orc")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }

  test("xml round-trip preserves customer (native Spark 4 xml source)") {
    val orig = Tables.customer(spark, sf0001)
    orig.write.format("xml").option("rowTag", "customer")
      .mode("overwrite").save(s"$tmp/customer_xml")
    val back = spark.read.format("xml").option("rowTag", "customer")
      .schema(orig.schema).load(s"$tmp/customer_xml")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }

  test("parquet round-trip preserves documents") {
    val orig = Tables.documents(spark, sf0001)
    val back = Sources.roundTrip(spark, orig, "parquet", s"$tmp/documents_pq")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }

  test("text sink/source parity (reference line-file model)") {
    val orig = Tables.documents(spark, sf0001).select("text")
    val back = Sources.textRoundTrip(spark, orig, s"$tmp/docs_text")
    assert(back.count() == orig.count())
    assert(sortedRows(back).sameElements(sortedRows(orig.toDF("value"))))
  }

  test("partitioned sink: directory-keyed column survives the round trip") {
    val orig = Tables.orders(spark, sf0001)
    val back = Sources.partitionedRoundTrip(spark, orig,
      Seq("o_orderstatus"), s"$tmp/orders_part")
    // partitionBy moves the key column to the end — compare column-sorted.
    val cols = orig.columns.sorted.toIndexedSeq
    assert(sortedRows(back.select(cols.map(c => back(c)): _*))
      .sameElements(sortedRows(orig.select(cols.map(c => orig(c)): _*))))
  }

  test("compaction: many small files → few, rows exactly preserved") {
    val orig = Tables.lineitem(spark, sf0001)
    val fragmented = s"$tmp/lineitem_fragmented"
    orig.repartition(40).write.mode("overwrite").parquet(fragmented)
    val out = s"$tmp/lineitem_compacted"
    val back = Sources.compact(spark, fragmented, out, 8 * 1024 * 1024)
    val nOut = new java.io.File(out).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nOut < 40, s"compaction kept $nOut files")
    assert(sortedRows(back).sameElements(sortedRows(orig)))
  }
}
