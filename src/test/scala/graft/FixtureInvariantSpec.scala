package graft

import org.apache.spark.sql.functions._

/** Enforces data assumptions the cross-engine oracles rely on, so they are
  * asserted rather than implicit:
  *
  * the q70/q71 byte-level oracles equate `ascii(char)` with the payload byte
  * and `length(text)` with the byte count, and q44 compares JVM substring
  * against DuckDB code-point substr — all valid only while fixture text is
  * pure ASCII (1 byte == 1 char == 1 code point). If a future fixture ships
  * multi-byte UTF-8, this fails loudly here instead of as an opaque oracle
  * hash mismatch.
  */
class FixtureInvariantSpec extends SparkSpec {

  private val asciiOnly = "^[\\x00-\\x7F]*$"

  test("documents.text is pure ASCII at sf0.001 and sf0.01") {
    Seq(sf0001, sf001).foreach { d =>
      val offenders = Tables.documents(spark, d)
        .filter(not(col("text").rlike(asciiOnly)))
      assert(offenders.isEmpty,
        s"non-ASCII text in $d documents — byte-level oracles (q44/q70/q71) " +
          s"assume 1 byte/char: ${offenders.select("doc_id").head(5).mkString(",")}")
    }
  }

  test("documents.text has no embedded newlines (line-sink assumption, q92)") {
    Seq(sf0001, sf001).foreach { d =>
      val bad = Tables.documents(spark, d)
        .filter(col("text").contains("\n") || col("text").contains("\r"))
      assert(bad.isEmpty, s"newline inside document text in $d — " +
        "a newline-delimited text sink would split the row")
    }
  }

  test("every document has at least one token (ratio-denominator assumption)") {
    // q40/q42/q45/q47 divide by token counts; a zero-token doc would yield
    // NaN on the Spark side vs engine-specific null/NaN in DuckDB. Enforce
    // the assumption instead of relying on it (fixtures currently bottom
    // out at 10 tokens/doc).
    Seq(sf0001, sf001).foreach { d =>
      val empty = Tables.documents(spark, d)
        .filter(size(expr("filter(split(text, ' '), t -> t != '')")) === 0)
      assert(empty.isEmpty, s"zero-token document in $d")
    }
  }

  test("documents.text has no doc where byte length != char length") {
    Seq(sf0001, sf001).foreach { d =>
      val bad = Tables.documents(spark, d)
        .filter(length(col("text")) =!= length(col("text").cast("binary")))
      assert(bad.isEmpty, s"multi-byte text in $d")
    }
  }

  test("events loader adapts to every ts physical encoding seen in the wild") {
    // Fixture regens have flipped events.ts between int64 nanos and
    // timestamp[us] (the r8 regen silently killed 30 queries). Lock the
    // loader's schema branch: a long-nanos file, a TIMESTAMP file, and a
    // TIMESTAMP_NTZ file must all load to identical session-UTC TIMESTAMP
    // microsecond values.
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    import spark.implicits._
    val us = 1700000000123456L // µs since epoch, sub-ms precision on purpose
    def stage(df: org.apache.spark.sql.DataFrame): String = {
      val dir = TempDirs.dir("graft_evfix").toString
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      dir
    }
    val base = Seq((1L, 7L, "click", 1.0, "{}"))
      .toDF("event_id", "user_id", "event_type", "value", "props")
    val asNanos = stage(base.withColumn("ts", lit(us * 1000L)))
    val asMicros = stage(base.withColumn("ts", timestamp_micros(lit(us))))
    val asNtz = stage(base.withColumn("ts",
      timestamp_micros(lit(us)).cast(TimestampNTZType)))
    for (d <- Seq(asNanos, asMicros, asNtz)) {
      val loaded = Tables.events(spark, d)
      assert(loaded.schema("ts").dataType == TimestampType,
        s"$d: ts loaded as ${loaded.schema("ts").dataType}")
      val got = loaded.select(unix_micros(col("ts"))).as[Long].head()
      assert(got == us, s"$d: ts value $got != $us")
    }
    // The real fixtures must load through the same branch, rows > 0.
    assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType)
  }

  test("no two clicks of one user share a timestamp (as-of carry determinism)") {
    // q227's nearest-within-tolerance as-of (and the q31/q121 backward
    // carries) pick ONE right row per (key, time); two clicks of a user at
    // the same ts would make the carried winner order-dependent on BOTH
    // engines — a FLAKY oracle gate instead of a clear failure (r16
    // ADVICE). The precondition held on every fixture and the 10x tier;
    // assert it here so a future fixture regen that violates it fails
    // loudly by name. sf0.1 included: it is the certification scale and
    // only 100k rows.
    Seq(sf0001, sf001, sf01).foreach { d =>
      val dup = Tables.events(spark, d)
        .filter(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts")).count()
        .filter(col("count") > 1)
      assert(dup.isEmpty,
        s"$d: duplicate (user_id, ts) click pairs — the as-of carry's " +
          s"winner becomes order-dependent; dedup the fixture or add a " +
          s"tie-break key to AsOf.asofJoin before trusting q227/q31: " +
          s"${dup.head(3).mkString(",")}")
    }
  }

  test("fixture physical types the engine (and its oracles) assume") {
    // events.ts taught us fixture regens can silently flip physical
    // encodings (the r8 outage). The loaders/oracles additionally assume:
    // embeddings.embedding is array<float> (native cosine/minhash exprs and
    // the DuckDB CAST-to-DOUBLE oracles agree only under float32 inputs),
    // documents.text/lang/source are strings, and the date columns load as
    // TimestampType. A regen that changes any of these fails HERE with a
    // named column instead of as N cryptic oracle hash mismatches.
    import org.apache.spark.sql.types._
    Seq(sf0001, sf001).foreach { d =>
      assert(Tables.embeddings(spark, d).schema("embedding").dataType ==
        ArrayType(FloatType, containsNull = true),
        s"$d embeddings.embedding is not array<float> — native expressions " +
          "and oracles assume float32; extend a normalizeEmbedding branch " +
          "like Tables.normalizeEventsTs if the fixture changed")
      val doc = Tables.documents(spark, d).schema
      Seq("text", "lang", "source").foreach(c =>
        assert(doc(c).dataType == StringType, s"$d documents.$c not string"))
      // Date columns currently load as TIMESTAMP_NTZ (timestamp[ms],
      // isAdjustedToUTC=false); either timestamp flavor is fine under the
      // UTC session — the invariant guards against a flip to a NON-temporal
      // physical type (the events int64-nanos failure mode).
      val temporal = Set[DataType](TimestampType, TimestampNTZType)
      assert(temporal(Tables.orders(spark, d).schema("o_orderdate").dataType),
        s"$d orders.o_orderdate no longer loads as a timestamp")
      assert(temporal(Tables.lineitem(spark, d).schema("l_shipdate").dataType),
        s"$d lineitem.l_shipdate no longer loads as a timestamp")
    }
  }
}
